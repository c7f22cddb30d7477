"""JSON-LD 1.0 compaction (inverse context, IRI/value compaction).

Fresh Python implementation matching the reference
(/root/reference/src/compact.rs:85-965) observable behavior, including its
documented off-spec choices:

* inverse-context terms sorted shortest-first then lexicographic, first
  wins (compact.rs:97-106, 122-178);
* the ``@list``/``@none`` patch so empty lists compact onto a list term
  (comment at compact.rs:180-186) — narrowed where it would change a
  list's meaning: a type-coerced list term is the fallback for empty lists
  only, and a language list term is not picked for a list holding a plain
  (untagged) string, which would come back tagged;
* top-level array wrap/unwrap under ``compact_arrays`` incl. the
  empty-array → ``{}`` rule (compact.rs:243-259);
* base-relative IRI compaction deliberately unimplemented
  (compact.rs:848-852).

Like the reference's `compact` API (api.rs:42-71), ``compact_document``
expands its input first.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Set, Tuple

from . import errors as E
from .context import Context, ContextLoader, no_remote_contexts
from .expand import expand

_TYPE = "type"
_LANGUAGE = "language"


class InverseContext:
    def __init__(self, ctx: Context) -> None:
        # {iri: {container: {"type_map": {...}, "language_map": {...}}}}
        self.container_map: Dict[str, Dict[str, Dict[str, Dict[str, str]]]] = {}
        # {iri: type-coerced list term} and the IRIs whose @list @none entry
        # is a language term, both from the empty-list patch below
        self.empty_list_term: Dict[str, str] = {}
        self.language_patched: Set[str] = set()
        default_language = ctx.language if ctx.language is not None else "@none"

        term_order = sorted(ctx.terms.items(), key=lambda kv: (len(kv[0]), kv[0]))
        for term, value in term_order:
            container = value.container_mapping or "@none"
            iri = value.iri_mapping
            tlm = self.container_map.setdefault(iri, {}).setdefault(
                container, {"type_map": {}, "language_map": {}}
            )
            type_map, language_map = tlm["type_map"], tlm["language_map"]

            if value.reverse:
                type_map.setdefault("@reverse", term)
            elif value.type_mapping is not None:
                type_map.setdefault(value.type_mapping, term)
            elif value.language_mapping is not None:
                language_map.setdefault(value.language_mapping, term)
            else:
                language_map.setdefault(default_language, term)
                language_map.setdefault("@none", term)
                type_map.setdefault("@none", term)

            # Off-spec empty-list patch (compact.rs:180-196): IRI compaction
            # of an empty @list falls back to @none, so make sure a term
            # exists there. A type-coerced term is kept out of language_map:
            # a non-empty list of plain strings also looks up @none there,
            # and its bare strings would be read back as IRIs or typed values.
            if container == "@list" and "@none" not in language_map:
                if language_map:
                    language_map["@none"] = next(iter(language_map.values()))
                    self.language_patched.add(iri)
                else:
                    self.empty_list_term.setdefault(iri, next(iter(type_map.values())))

    def select_term(
        self,
        iri: str,
        containers: List[str],
        type_language: str,
        preferred_values: List[str],
        empty_list: bool = False,
        plain_strings: bool = False,
    ) -> Optional[str]:
        container_map = self.container_map.get(iri)
        if container_map is None:
            return None
        for container in containers:
            tlm = container_map.get(container)
            if tlm is None:
                continue
            value_map = tlm["language_map"] if type_language == _LANGUAGE else tlm["type_map"]
            patched = (
                plain_strings
                and container == "@list"
                and type_language == _LANGUAGE
                and iri in self.language_patched
            )
            for item in preferred_values:
                if item in value_map and not (patched and item == "@none"):
                    return value_map[item]
            if empty_list and container == "@list" and iri in self.empty_list_term:
                return self.empty_list_term[iri]
        return None


def _compact_iri(
    ctx: Context,
    inverse: InverseContext,
    iri: str,
    value: Optional[Dict[str, Any]] = None,
    vocab: bool = False,
    reverse: bool = False,
) -> str:
    if vocab and iri in inverse.container_map:
        default_language = ctx.language if ctx.language is not None else "@none"
        containers: List[str] = []
        type_language = _LANGUAGE
        type_language_value = "@null"
        empty_list = False
        plain_strings = False

        if value is not None and "@index" in value:
            containers.append("@index")

        if reverse:
            type_language = _TYPE
            type_language_value = "@reverse"
            containers.append("@set")
        elif value is not None:
            if "@list" in value:
                if "@index" not in value:
                    containers.append("@list")
                lst = value["@list"]
                if not isinstance(lst, list):
                    raise E.CompactionError("list_object_not_array")
                common_type: Optional[str] = None
                common_language: Optional[str] = None
                if not lst:
                    common_language = default_language
                    empty_list = True
                # checked apart from the loop below, which may stop early
                plain_strings = any(
                    isinstance(vitem, dict)
                    and isinstance(vitem.get("@value"), str)
                    and vitem.get("@language") is None
                    and "@type" not in vitem
                    for vitem in lst
                )
                for vitem in lst:
                    if not isinstance(vitem, dict):
                        raise E.CompactionError("list_item_not_object")
                    item_language: Optional[str] = None
                    item_type: Optional[str] = None
                    if "@value" in vitem:
                        if "@language" in vitem:
                            lang = vitem["@language"]
                            if isinstance(lang, str):
                                item_language = lang
                            elif lang is None:
                                item_language = "@null"
                            else:
                                raise E.CompactionError("language_not_string")
                        elif "@type" in vitem:
                            t = vitem["@type"]
                            if not isinstance(t, str):
                                raise E.CompactionError("type_not_string")
                            item_type = t
                        else:
                            item_language = "@null"
                    else:
                        item_type = "@id"
                    if common_language is None:
                        common_language = item_language
                    elif item_language != common_language and "@value" in vitem:
                        common_language = "@none"
                    if common_type is None:
                        common_type = item_type
                    elif common_type != item_type:
                        common_type = "@none"
                    if common_type == "@none" and common_language == "@none":
                        break
                common_language = common_language if common_language is not None else "@none"
                common_type = common_type if common_type is not None else "@none"
                if common_type != "@none":
                    type_language = _TYPE
                    type_language_value = common_type
                else:
                    type_language_value = common_language
            else:
                if "@value" in value:
                    if "@language" in value and "@index" not in value:
                        lang = value["@language"]
                        if not isinstance(lang, str):
                            raise E.CompactionError("language_not_string")
                        type_language_value = lang
                        containers.append("@language")
                    elif "@type" in value:
                        t = value["@type"]
                        if not isinstance(t, str):
                            raise E.CompactionError("type_not_string")
                        type_language = _TYPE
                        type_language_value = t
                else:
                    type_language = _TYPE
                    type_language_value = "@id"
                containers.append("@set")
        else:
            type_language = _TYPE
            type_language_value = "@id"
            containers.append("@set")

        containers.append("@none")

        preferred_values: List[str] = []
        if type_language_value == "@reverse":
            preferred_values.append("@reverse")
        chosen = False
        if (
            value is not None
            and type_language_value in ("@id", "@reverse")
            and "@id" in value
        ):
            idval = value["@id"]
            if not isinstance(idval, str):
                raise E.CompactionError("id_not_string")
            # double-compaction probe (compact.rs:775-795)
            probe = _compact_iri(ctx, inverse, idval, None, True, True)
            term = ctx.terms.get(probe)
            if term is not None and term.iri_mapping == idval:
                preferred_values += ["@vocab", "@id", "@none"]
            else:
                preferred_values += ["@id", "@vocab", "@none"]
            chosen = True
        if not chosen:
            preferred_values += [type_language_value, "@none"]

        term = inverse.select_term(
            iri, containers, type_language, preferred_values, empty_list, plain_strings
        )
        if term is not None:
            return term

    if vocab and ctx.vocabulary_mapping is not None:
        vm = ctx.vocabulary_mapping
        if iri.startswith(vm) and len(iri) > len(vm):
            suffix = iri[len(vm):]
            if suffix not in ctx.terms:
                return suffix

    compact_candidate: Optional[str] = None
    for term in sorted(ctx.terms):  # BTreeMap order
        definition = ctx.terms[term]
        if ":" in term:
            continue
        if definition.iri_mapping == iri or not iri.startswith(definition.iri_mapping):
            continue
        candidate = term + ":" + iri[len(definition.iri_mapping):]
        is_less = compact_candidate is None or (
            len(candidate) < len(compact_candidate)
            or (len(candidate) == len(compact_candidate) and candidate < compact_candidate)
        )
        if is_less and (
            candidate not in ctx.terms
            or (ctx.terms[candidate].iri_mapping == iri and value is None)
        ):
            compact_candidate = candidate

    if compact_candidate is not None:
        return compact_candidate

    # base-relative compaction deliberately unimplemented (compact.rs:848-852)
    return iri


def _compact_value(
    ctx: Context,
    inverse: InverseContext,
    active_property: Optional[str],
    value: Dict[str, Any],
) -> Any:
    number_members = len(value)
    term = ctx.terms.get(active_property) if active_property is not None else None
    if (
        term is not None
        and term.container_mapping == "@index"
        and "@index" in value
    ):
        number_members -= 1

    null_lang_map = True
    if number_members > 2:
        return dict(value)

    if term is not None:
        if term.type_mapping is not None:
            if "@id" in value:
                idstr = value["@id"]
                if not isinstance(idstr, str):
                    raise E.CompactionError("id_not_string")
                if number_members == 1 and term.type_mapping == "@id":
                    return _compact_iri(ctx, inverse, idstr, None, False, False)
                if number_members == 1 and term.type_mapping == "@vocab":
                    return _compact_iri(ctx, inverse, idstr, None, True, False)
                return dict(value)
            if "@type" in value:
                typstr = value["@type"]
                if not isinstance(typstr, str):
                    raise E.CompactionError("type_not_string")
                if term.type_mapping == typstr:
                    return value["@value"]
        if term.language_mapping is not None:
            if "@language" in value:
                lang = value["@language"]
                if isinstance(lang, str):
                    langmap = lang
                elif lang is None:
                    langmap = "@null"
                else:
                    raise E.CompactionError("language_not_string")
                if term.language_mapping == langmap:
                    return value["@value"]
            if number_members == 1 and term.language_mapping == "@null":
                return value["@value"]
            null_lang_map = term.language_mapping == "@null"

    if "@language" in value:
        lang = value["@language"]
        if isinstance(lang, str):
            langmap = lang
        elif lang is None:
            langmap = "@null"
        else:
            raise E.CompactionError("language_not_string")
        if ctx.language == langmap:
            return value["@value"]

    if number_members == 1 and "@value" in value and (
        not isinstance(value["@value"], str)
        or ctx.language is None
        or not null_lang_map
    ):
        return value["@value"]

    return dict(value)


def _compact(
    ctx: Context,
    inverse: InverseContext,
    active_property: Optional[str],
    element: Any,
    compact_arrays: bool,
) -> Any:
    if isinstance(element, list):
        result = []
        for item in element:
            compacted = _compact(ctx, inverse, active_property, item, compact_arrays)
            if compacted is not None:
                result.append(compacted)
        if len(result) == 1 and compact_arrays:
            if active_property is None:
                return result[0]
            term = ctx.terms.get(active_property)
            if term is None or term.container_mapping is None:
                return result[0]
        return result

    if isinstance(element, dict):
        if "@value" in element or "@id" in element:
            res = _compact_value(ctx, inverse, active_property, element)
            if not isinstance(res, (list, dict)):
                return res

        inside_reverse = active_property == "@reverse"
        result: Dict[str, Any] = {}

        for expanded_property in sorted(element):  # BTreeMap order
            expanded_value = element[expanded_property]

            if expanded_property in ("@id", "@type"):
                if isinstance(expanded_value, str):
                    compacted_value: Any = _compact_iri(
                        ctx, inverse, expanded_value, None,
                        expanded_property == "@type", False,
                    )
                elif isinstance(expanded_value, list):
                    if expanded_property != "@type":
                        raise E.CompactionError("id_not_string")
                    compacted = []
                    for item in expanded_value:
                        if not isinstance(item, str):
                            raise E.CompactionError("type_not_string")
                        compacted.append(_compact_iri(ctx, inverse, item, None, True, False))
                    compacted_value = compacted[0] if len(compacted) == 1 else compacted
                else:
                    raise E.CompactionError("id_or_type_not_string")
                alias = _compact_iri(ctx, inverse, expanded_property, None, True, False)
                result[alias] = compacted_value
                continue

            if expanded_property == "@reverse":
                compacted_value = _compact(
                    ctx, inverse, "@reverse", expanded_value, compact_arrays
                )
                if not isinstance(compacted_value, dict):
                    raise E.CompactionError("term_not_object")
                new_map: Dict[str, Any] = {}
                for prop, val in compacted_value.items():
                    term = ctx.terms.get(prop)
                    if term is not None and term.reverse:
                        if (
                            term.container_mapping == "@set" or not compact_arrays
                        ) and not isinstance(val, list):
                            val = [val]
                        if prop in result:
                            existing = result[prop]
                            if not isinstance(existing, list):
                                existing = [existing]
                                result[prop] = existing
                            if isinstance(val, list):
                                existing.extend(val)
                            else:
                                existing.append(val)
                        else:
                            result[prop] = val
                        continue
                    new_map[prop] = val
                if new_map:
                    alias = _compact_iri(ctx, inverse, "@reverse", None, True, False)
                    result[alias] = new_map
                continue

            if expanded_property == "@index":
                term = ctx.terms.get(active_property) if active_property else None
                if term is not None and term.container_mapping == "@index":
                    continue

            if expanded_property in ("@index", "@value", "@language"):
                alias = _compact_iri(ctx, inverse, expanded_property, None, True, False)
                result[alias] = expanded_value
                continue

            if isinstance(expanded_value, list) and not expanded_value:
                item_active_property = _compact_iri(
                    ctx, inverse, expanded_property, None, True, inside_reverse
                )
                if item_active_property not in result:
                    result[item_active_property] = []
                else:
                    result[item_active_property] = [result[item_active_property]]

            if not isinstance(expanded_value, list):
                # reachable via the @graph-null expansion quirk (a scalar
                # under an aliased @graph leaves "@graph": null — expand
                # fixture t0207): the reference PANICS here
                # (compact.rs:493 as_array().unwrap()); this implementation
                # fails TYPED so the pipeline's per-document quarantine
                # contains the page instead of losing the task
                raise E.CompactionError(
                    E.INVALID_OBJECT,
                    f"non-array expanded value under {expanded_property}",
                )
            for expanded_item in expanded_value:
                item_value = expanded_item if isinstance(expanded_item, dict) else None
                item_active_property = _compact_iri(
                    ctx, inverse, expanded_property, item_value, True, inside_reverse
                )
                term = ctx.terms.get(item_active_property)
                container = term.container_mapping if term is not None else None

                data = expanded_item if isinstance(expanded_item, dict) else {}
                to_pass = data.get("@list", expanded_item)
                compacted_item = _compact(
                    ctx, inverse, item_active_property, to_pass, compact_arrays
                )

                if "@list" in data:
                    if not isinstance(compacted_item, list):
                        compacted_item = [compacted_item]
                    if container != "@list":
                        m = {
                            _compact_iri(ctx, inverse, "@list", None, True, False): compacted_item
                        }
                        if "@index" in data:
                            m[_compact_iri(ctx, inverse, "@index", None, True, False)] = data[
                                "@index"
                            ]
                        compacted_item = m
                    elif item_active_property in result:
                        raise E.CompactionError(E.COMPACTION_TO_LIST_OF_LISTS)

                if container in ("@language", "@index"):
                    map_object = result.setdefault(item_active_property, {})
                    if (
                        container == "@language"
                        and isinstance(compacted_item, dict)
                        and "@value" in compacted_item
                    ):
                        compacted_item = compacted_item["@value"]
                    map_key = data.get(container)
                    if not isinstance(map_key, str):
                        raise E.CompactionError("language_or_index_not_string")
                    if map_key not in map_object:
                        map_object[map_key] = compacted_item
                    else:
                        existing = map_object[map_key]
                        if isinstance(existing, list):
                            existing.append(compacted_item)
                        else:
                            map_object[map_key] = [existing, compacted_item]
                else:
                    if (
                        not compact_arrays
                        or container in ("@set", "@list")
                        or expanded_property in ("@list", "@graph")
                    ) and not isinstance(compacted_item, list):
                        compacted_item = [compacted_item]
                    if item_active_property not in result:
                        result[item_active_property] = compacted_item
                    else:
                        existing = result[item_active_property]
                        varr = (
                            compacted_item
                            if isinstance(compacted_item, list)
                            else [compacted_item]
                        )
                        if isinstance(existing, list):
                            existing.extend(varr)
                        else:
                            result[item_active_property] = [existing] + varr

        return result

    return element


def compact_core(
    context_value: Any, element: Any, compact_arrays: bool = True,
    loader: ContextLoader = no_remote_contexts,
) -> Any:
    """Core compaction of an already-expanded ``element`` (compact.rs:231-272)."""
    ctx = Context()
    ctx.process_context(context_value, {}, loader)
    inverse = InverseContext(ctx)
    res = _compact(ctx, inverse, None, element, compact_arrays)

    if isinstance(res, list):
        if compact_arrays and not res:
            res = {}
        elif compact_arrays and len(res) == 1:
            res = res[0]
        else:
            res = {_compact_iri(ctx, inverse, "@graph", None, True, False): res}

    if isinstance(res, dict) and context_value is not None and (
        not isinstance(context_value, dict) or context_value
    ):
        res["@context"] = context_value
    return res


def compact_document(
    document: Any,
    context_document: Any,
    base: Optional[str] = None,
    compact_arrays: bool = True,
    loader: ContextLoader = no_remote_contexts,
) -> Any:
    """Public compact entry (reference api.rs:42-71): expand first, unwrap
    the target context's ``@context`` member, then compact."""
    expanded = expand(document, base=base, loader=loader)
    ctx_value = (
        context_document.get("@context", context_document)
        if isinstance(context_document, dict)
        else context_document
    )
    return compact_core(ctx_value, expanded, compact_arrays, loader)
