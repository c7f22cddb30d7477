"""URDNA2015 (RDF Dataset Canonicalization) — canonical blank-node labels.

Implemented fresh from the public W3C RDF Dataset Canonicalization spec
(hash-first-degree-quads / hash-n-degree-quads with permutation search).
The reference has no URDNA2015; its ``BlankNodeGenerator`` trait
(/root/reference/src/nodemap.rs:206-210) is the designed extension point —
this module supplies the canonical labeling that replaces the sequential
``_:bN`` generator for pipeline output, making blank labels content-derived
and therefore stable under any execution / partition order.

Worst case is factorial (permutation search over "poison" graphs); a work
budget caps total effort and raises ``CanonicalizationError`` so the Spark
pipeline can quarantine the document instead of hanging an executor core.
"""

from __future__ import annotations

import hashlib
from itertools import permutations
from typing import Dict, Iterable, List, Optional, Tuple

from . import errors as E
from .rdf import RDF_LANG_STRING, XSD_STRING, Quad

# (graph, quad) pairs are the working unit: URDNA operates on datasets.
GQuad = Tuple[str, Quad]

DEFAULT_WORK_BUDGET = 50_000


def is_blank(term: str) -> bool:
    return term.startswith("_:")


def _escape(value: str) -> str:
    return (
        value.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _term_str(term: str, bnode_map: Optional[Dict[str, str]] = None) -> str:
    if term[:2] == "_:":  # inlined is_blank: hottest string op in hashing
        if bnode_map is not None:
            return bnode_map.get(term, term)
        return term
    return f"<{term}>"


def _object_str(quad: Quad, bnode_map: Optional[Dict[str, str]] = None) -> str:
    if quad.obj_kind == "id":
        return _term_str(quad.obj_value, bnode_map)
    lex = f'"{_escape(quad.obj_value)}"'
    if quad.obj_datatype == RDF_LANG_STRING and quad.obj_lang:
        return f"{lex}@{quad.obj_lang}"
    if quad.obj_datatype and quad.obj_datatype != XSD_STRING:
        return f"{lex}^^<{quad.obj_datatype}>"
    return lex


def nquad_line(graph: str, quad: Quad, bnode_map: Optional[Dict[str, str]] = None) -> str:
    """Canonical N-Quads serialization of one statement."""
    parts = [
        _term_str(quad.subj, bnode_map),
        # blank predicates (generalized RDF, reference nodemap.rs:571-601)
        # serialize bare, not angle-bracketed
        _term_str(quad.pred, bnode_map),
        _object_str(quad, bnode_map),
    ]
    if graph != "@default":
        parts.append(_term_str(graph, bnode_map))
    return " ".join(parts) + " ."


class IdentifierIssuer:
    def __init__(self, prefix: str = "_:c14n") -> None:
        self.prefix = prefix
        self.counter = 0
        self.issued: Dict[str, str] = {}
        self.order: List[str] = []

    def issue(self, existing: str) -> str:
        label = self.issued.get(existing)
        if label is None:
            label = f"{self.prefix}{self.counter}"
            self.counter += 1
            self.issued[existing] = label
            self.order.append(existing)
        return label

    def copy(self) -> "IdentifierIssuer":
        dup = IdentifierIssuer(self.prefix)
        dup.counter = self.counter
        dup.issued = dict(self.issued)
        dup.order = list(self.order)
        return dup


class _Canonicalizer:
    def __init__(self, gquads: List[GQuad], work_budget: int) -> None:
        self.gquads = gquads
        self.budget = work_budget
        self.bnode_quads: Dict[str, List[GQuad]] = {}
        self.canonical = IdentifierIssuer("_:c14n")
        self._fdh_cache: Dict[str, str] = {}
        for graph, quad in gquads:
            # one registration per quad per DISTINCT blank label: a quad like
            # (_:a p _:a) must serialize once in hash-first-degree input.
            # Blank-position checks inlined ("_:" slice, no is_blank call,
            # no set allocation) — most quads are blank-free and this loop
            # touches every quad of every document on the extraction path.
            subj = quad.subj
            obj = quad.obj_value if quad.obj_kind == "id" else None
            s_b = subj[:2] == "_:"
            o_b = obj is not None and obj[:2] == "_:"
            g_b = graph[:2] == "_:"
            if not (s_b or o_b or g_b):
                continue
            pair = (graph, quad)
            if s_b:
                self.bnode_quads.setdefault(subj, []).append(pair)
            if o_b and obj != subj:
                self.bnode_quads.setdefault(obj, []).append(pair)
            if g_b and graph != subj and graph != obj:
                self.bnode_quads.setdefault(graph, []).append(pair)

    def _spend(self, units: int = 1) -> None:
        self.budget -= units
        if self.budget < 0:
            raise E.CanonicalizationError(E.CANON_TOO_COMPLEX, "work budget exhausted")

    # -- 4.6 Hash First Degree Quads --------------------------------- #
    def hash_first_degree(self, identifier: str) -> str:
        cached = self._fdh_cache.get(identifier)
        if cached is not None:
            return cached
        lines = []
        for graph, quad in self.bnode_quads.get(identifier, []):
            self._spend()
            bmap = {}
            # quad.pred included OFF-SPEC: RDF-canon only substitutes node
            # positions, but this engine admits generalized quads (blank
            # predicates, nodemap relabeling) — without the substitution the
            # raw input label would leak into the hash and make canonical
            # labels depend on DefaultNodeGenerator numbering instead of
            # content. A predicate-ONLY blank label still keeps its input
            # label in the output (see canonicalize_dataset) and is not an
            # n-degree related term; two structurally different blank
            # predicates can thus collapse to one hash — acceptable for the
            # generalized-RDF corner, documented here.
            for term in (
                quad.subj,
                quad.pred,
                quad.obj_value if quad.obj_kind == "id" else None,
                graph,
            ):
                if term is not None and is_blank(term):
                    bmap[term] = "_:a" if term == identifier else "_:z"
            lines.append(nquad_line(graph, quad, bmap))
        lines.sort()
        # spec-exact digest input: each canonical N-Quads line is newline-
        # TERMINATED (rdf-canon §4.6 step 5 concatenates serialized quads,
        # and canonical N-Quads lines end in "\n") — a separator join would
        # produce different hashes than conformant implementations
        digest = hashlib.sha256(
            "".join(line + "\n" for line in lines).encode("utf-8")
        ).hexdigest()
        self._fdh_cache[identifier] = digest
        return digest

    # -- 4.7 Hash Related Blank Node ---------------------------------- #
    def hash_related(
        self, related: str, quad: Quad, issuer: IdentifierIssuer, position: str
    ) -> str:
        self._spend()
        data = position
        if position != "g":
            # blank predicates (generalized quads) contribute a fixed marker,
            # not their raw input label — same off-spec rule as
            # hash_first_degree, so n-degree hashes stay content-derived
            data += "_:p" if is_blank(quad.pred) else f"<{quad.pred}>"
        if related in self.canonical.issued:
            data += self.canonical.issued[related]
        elif related in issuer.issued:
            data += issuer.issued[related]
        else:
            data += self.hash_first_degree(related)
        return hashlib.sha256(data.encode("utf-8")).hexdigest()

    # -- 4.8 Hash N-Degree Quads -------------------------------------- #
    def hash_n_degree(
        self, identifier: str, issuer: IdentifierIssuer
    ) -> Tuple[str, IdentifierIssuer]:
        self._spend(10)
        hn: Dict[str, List[str]] = {}
        for graph, quad in self.bnode_quads.get(identifier, []):
            for term, position in (
                (quad.subj, "s"),
                (quad.obj_value if quad.obj_kind == "id" else None, "o"),
                (graph, "g"),
            ):
                if term is not None and is_blank(term) and term != identifier:
                    h = self.hash_related(term, quad, issuer, position)
                    hn.setdefault(h, []).append(term)

        data_to_hash = ""
        for related_hash in sorted(hn):
            data_to_hash += related_hash
            chosen_path = ""
            chosen_issuer: Optional[IdentifierIssuer] = None
            blank_nodes = hn[related_hash]
            if len(blank_nodes) > 8:
                raise E.CanonicalizationError(
                    E.CANON_TOO_COMPLEX, f"{len(blank_nodes)}! permutations"
                )
            # a related node reached through several quads (e.g. the blank
            # graph of every quad a subject has in it) is listed once per
            # quad; permutations that differ only in how equal labels are
            # ordered build the same path, so each is tried once, at its
            # first position in permutation order
            seen: Optional[set] = None
            if len(set(blank_nodes)) < len(blank_nodes):
                seen = set()
            for perm in permutations(blank_nodes):
                if seen is not None:
                    if perm in seen:
                        continue
                    seen.add(perm)
                self._spend(len(perm))
                issuer_copy = issuer.copy()
                path = ""
                recursion_list: List[str] = []
                skip = False
                for related in perm:
                    if related in self.canonical.issued:
                        path += self.canonical.issued[related]
                    else:
                        if related not in issuer_copy.issued:
                            recursion_list.append(related)
                        path += issuer_copy.issue(related)
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                for related in recursion_list:
                    result_hash, result_issuer = self.hash_n_degree(related, issuer_copy)
                    path += issuer_copy.issue(related)
                    path += f"<{result_hash}>"
                    issuer_copy = result_issuer
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data_to_hash += chosen_path
            if chosen_issuer is not None:
                issuer = chosen_issuer

        digest = hashlib.sha256(data_to_hash.encode("utf-8")).hexdigest()
        return digest, issuer

    # -- 4.4 main ------------------------------------------------------ #
    def run(self) -> Dict[str, str]:
        # Fast paths: most web documents have 0 or 1 blank node, where
        # canonical labeling is trivial — skip all hashing.
        if not self.bnode_quads:
            return {}
        if len(self.bnode_quads) == 1:
            (only,) = self.bnode_quads
            return {only: self.canonical.issue(only)}

        hash_to_bnodes: Dict[str, List[str]] = {}
        for bnode in self.bnode_quads:
            hash_to_bnodes.setdefault(self.hash_first_degree(bnode), []).append(bnode)

        non_unique: List[Tuple[str, List[str]]] = []
        for h in sorted(hash_to_bnodes):
            nodes = hash_to_bnodes[h]
            if len(nodes) == 1:
                self.canonical.issue(nodes[0])
            else:
                non_unique.append((h, sorted(nodes)))

        for _, nodes in non_unique:
            results = []
            for bnode in nodes:
                if bnode in self.canonical.issued:
                    continue
                temp_issuer = IdentifierIssuer("_:b")
                temp_issuer.issue(bnode)
                results.append(self.hash_n_degree(bnode, temp_issuer))
            # Tie-break BEYOND the spec (r6, fixture c0044): URDNA2015's
            # n-degree hash cannot distinguish certain non-interchangeable
            # nodes when blank GRAPH labels are involved (hash_related for
            # position 'g' carries only the related graph's label — the
            # association "whose subject-quad lives in which graph" never
            # enters any hash), so equal result hashes do NOT always mean
            # automorphic nodes and a bare stable sort would let the INPUT
            # label order pick the output. Secondary key: the candidate
            # serialization each issuance order would produce (_tie_key) —
            # content-derived, so the canonical form is relabeling-invariant.
            # For genuinely automorphic ties all candidates serialize
            # identically and the key is a no-op. The serialization key is
            # only computed when hashes actually collide — the common case
            # (all n-degree hashes distinct) pays nothing.
            if len({h for h, _ in results}) < len(results):
                results.sort(key=lambda r: (r[0], self._tie_key(r[1])))
            else:
                results.sort(key=lambda r: r[0])
            for _, result_issuer in results:
                for existing in result_issuer.order:
                    self.canonical.issue(existing)

        return dict(self.canonical.issued)

    def _tie_key(self, result_issuer: IdentifierIssuer) -> Tuple[str, ...]:
        """Deterministic discriminator for equal n-degree hashes: serialize
        the quads touching this result's nodes under the labels its issuance
        order WOULD produce (hypothetical counter = the canonical issuer's
        current state — identical for every candidate of a tie group),
        already-canonical labels kept, all other blanks collapsed to _:z.
        Input-label-independent by construction.

        The _:z collapse residual ADVICE r6 flagged (two non-automorphic
        candidates serializing identically because their difference lives
        in a third unlabeled tie group) is VACUOUS, argued r7 from the
        algorithm's own structure: hash_n_degree temp-issues every related
        non-canonical blank it meets (even ones it does not recurse into a
        second time) and recurses transitively, so ``result_issuer.order``
        spans the candidate's entire weakly-connected blank component —
        every blank that could witness non-automorphism between same-
        component candidates carries a real hypothetical label in the key,
        and a full-label serialization of a whole component is a complete
        isomorphism invariant (equal keys compose the two label maps into
        an automorphism mapping one candidate to the other; for different-
        component candidates, equal keys make the components isomorphic
        and the swap is an automorphism). _:z therefore only ever stands
        for blanks in OTHER components, which cannot affect the tie.
        Exercised adversarially by
        tests/test_urdna_property.py::test_chained_collision_gadgets_invariance
        (two c0044 gadgets cross-linked so one pair's difference lives
        entirely in the other pair — the exact shape the residual would
        need)."""
        hypothetical = self.canonical.copy()
        bmap = {b: hypothetical.issue(b) for b in result_issuer.order}
        bmap.update(self.canonical.issued)
        quads = [
            pair for b in result_issuer.order for pair in self.bnode_quads.get(b, [])
        ]
        # ONE substitution map per candidate (review r6: a per-quad
        # dict(bmap) copy made each tie-break O(issued-labels × quads) on
        # large documents); unknown blanks collapse to _:z
        for graph, quad in quads:
            for term in (
                quad.subj,
                quad.pred,
                quad.obj_value if quad.obj_kind == "id" else None,
                graph,
            ):
                if term is not None and is_blank(term) and term not in bmap:
                    bmap[term] = "_:z"
        return tuple(sorted({nquad_line(graph, quad, bmap) for graph, quad in quads}))


def canonical_labels(
    gquads: Iterable[GQuad], work_budget: int = DEFAULT_WORK_BUDGET
) -> Dict[str, str]:
    """Map every blank-node label in the dataset to its ``_:c14nN`` label.

    INTEROP NOTE (r6/r7): this implementation goes beyond URDNA2015 /
    RDFC-1.0 on one degenerate class. When blank GRAPH labels make the
    n-degree hashes of NON-automorphic nodes collide (fixtures
    c0044/c0046/c0047), the published algorithm's bare result sort leaves
    the labeling dependent on input label order — one dataset, several
    "canonical" forms, so no single spec-conformant answer exists there
    and third-party implementations will disagree with each other as well
    as with us. We apply a content-derived tie-break (``_tie_key``) that
    picks ONE relabeling-invariant form. On every dataset where n-degree
    hashes are distinct or tied nodes are genuinely automorphic — i.e.
    everything the public test suites exercise — output is byte-identical
    to a conformant implementation. Hand-derived cross-check:
    tests/test_canon_derivation.py."""
    return _Canonicalizer(list(gquads), work_budget).run()


def canonicalize_dataset(
    dataset: Dict[str, List[Quad]],
    work_budget: int = DEFAULT_WORK_BUDGET,
    sort: bool = True,
) -> Dict[str, List[Quad]]:
    """Relabel all blank nodes with canonical labels; quads sorted per graph
    by their canonical N-Quads line for full determinism.

    ``sort=False`` skips the per-graph ordering (the sort key builds a full
    N-Quads line per quad — measured ~40% of this function's wall). Labels
    are identical either way; use it when the consumer is order-insensitive:
    the pipeline's triple-table rows land in a DataFrame whose queries sort
    or aggregate themselves, and ``canonical_nquads`` re-sorts globally."""
    gquads: List[GQuad] = [
        (graph, quad) for graph, quads in dataset.items() for quad in quads
    ]
    mapping = canonical_labels(gquads, work_budget)

    def rename(term: str) -> str:
        # "_:" slice inlined — called for every term of every quad
        return mapping.get(term, term) if term[:2] == "_:" else term

    out: Dict[str, List[Quad]] = {}
    for graph, quads in dataset.items():
        new_graph = rename(graph)
        if not mapping:
            # bnode-free document (the common web-page case): nothing to
            # relabel, only the deterministic sort applies
            renamed = list(quads)
        else:
            renamed = [
                # reconstruct only quads that touch a blank label — in a
                # bnode-carrying document most quads are still blank-free,
                # and the Quad() rebuild was the largest single cost of this
                # function (r6 profile)
                q
                if (
                    q.subj[:2] != "_:"
                    and q.pred[:2] != "_:"
                    and (q.obj_kind != "id" or q.obj_value[:2] != "_:")
                )
                else Quad(
                    subj=rename(q.subj),
                    # blank predicates (generalized RDF) aren't canonicalized
                    # by URDNA (not node positions), but when the same label
                    # IS a node elsewhere, renaming keeps its identity whole
                    pred=rename(q.pred),
                    obj_kind=q.obj_kind,
                    obj_value=rename(q.obj_value) if q.obj_kind == "id" else q.obj_value,
                    obj_datatype=q.obj_datatype,
                    obj_lang=q.obj_lang,
                )
                for q in quads
            ]
        if sort:
            renamed.sort(key=lambda q: nquad_line(new_graph, q))
        out.setdefault(new_graph, []).extend(renamed)
    return out


def canonical_nquads(dataset: Dict[str, List[Quad]], work_budget: int = DEFAULT_WORK_BUDGET) -> str:
    """Canonical N-Quads document (sorted lines) — dataset-isomorphism key."""
    # sort=False: the global line sort below supersedes per-graph ordering
    canon = canonicalize_dataset(dataset, work_budget, sort=False)
    lines = [nquad_line(g, q) for g, quads in canon.items() for q in quads]
    return "\n".join(sorted(lines)) + ("\n" if lines else "")
