"""Seeded input generator for the four benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed gives
byte-identical files, a different seed gives different inputs with the same
planted properties. Text is drawn from a fixed synthetic vocabulary (uniform
for crawl pages, Zipf-distributed with shared boilerplate for the dedup
corpus), so the generator reads nothing outside the checkout. Planted shares (malformed
blocks, re-crawls, blank-node rings, near-duplicate clusters) are exact
counts chosen by a seeded sample, not per-item coin flips, so the ratios the
output checks compare against are known exactly.

Files are written with pyarrow (no Spark), once per seed, into a cache
directory; ``properties`` measured on the generated data travel with them in
``properties.json``.
"""

from __future__ import annotations

import bisect
import hashlib
import html as _html
import itertools
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone
from typing import Any, Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from jsonld_rs_spark.ops.corpus import DEFAULT_JACCARD
from jsonld_rs_spark.ops.dedup import MINHASH_BANDS
from jsonld_rs_spark.ops.text import LANG_MARKERS
from jsonld_rs_spark.pipeline.components import SMALL_GRAPH_EDGES
from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
from jsonld_rs_spark.pipeline.linking import default_dictionary
from jsonld_rs_spark.pipeline.synth import ENTITY_WORDS
from jsonld_rs_spark.pipeline.triples import TRIPLE_COLUMNS

from workloads import union_find

GENERATOR_VERSION = 7

# Page and entity sizes per workload. Each timed pass is kept at a few
# seconds on a 4-core box so a run fits several passes into its window.
CRAWL_PAGES = 1600
CRAWL_ENTITIES = 400
STREAM_PAGES_PER_DROP = 6
RESOLVE_PAGES = 300
RESOLVE_PAGE_WORDS = (300, 500)
RESOLVE_FORMS = 120
RESOLVE_MULTIWORD_FORMS = 40
DEDUP_UNIQUE_DOCS = 600
DEDUP_CLUSTERS = 60

PAGE_FILES = 16  # small files pack into >= nproc scan partitions
SCHEMA_ORG = "http://schema.org/"
SAMEAS = SCHEMA_ORG + "sameAs"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
CRAWL_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
LANG_MARKER = {"en": "the", "de": "der", "fr": "le", "es": "el", "zh": None}
LANGS = ["en", "en", "de", "fr", "es", "zh"]

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_RESERVED = set(ENTITY_WORDS) | {m for m in LANG_MARKER.values() if m}
VOCAB: List[str] = [
    w
    for w in (a + b for a in _SYLLABLES for b in _SYLLABLES)
    if w not in _RESERVED
]
random.Random(0).shuffle(VOCAB)
VOCAB = VOCAB[:1200]

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
TRIPLES_SCHEMA = pa.schema([(c, pa.string()) for c in TRIPLE_COLUMNS])
DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string())]
)
DICT_SCHEMA = pa.schema(
    [("surface_form", pa.string()), ("entity_id", pa.string()), ("prior", pa.float64())]
)


# --------------------------------------------------------------------------- #
# text
# --------------------------------------------------------------------------- #


def make_text(rng: random.Random, lang: str, n_words: int, extra: List[str] = (),
              extra_rate: float = 0.0) -> str:
    """``n_words`` space-separated words: the language's marker word at a
    fixed rate (so the marker-word language guess agrees with ``lang``),
    ``extra`` words (entity surface forms) at ``extra_rate``, else uniform
    vocabulary words."""
    marker = LANG_MARKER[lang]
    out = []
    for _ in range(n_words):
        r = rng.random()
        if marker and r < 0.07:
            out.append(marker)
        elif extra and r < 0.07 + extra_rate:
            out.append(rng.choice(extra))
        else:
            out.append(rng.choice(VOCAB))
    return " ".join(out)


def render_html(title: str, lang: str, text: str, blocks: List[str]) -> bytes:
    scripts = "\n".join(
        f'<script type="application/ld+json">{body}</script>' for body in blocks
    )
    page = (
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        f"<title>{_html.escape(title)}</title>\n{scripts}\n</head>"
        f'<body><div id="doc-text">{_html.escape(text)}</div></body></html>'
    )
    return page.encode("utf-8")


# --------------------------------------------------------------------------- #
# JSON-LD blocks
# --------------------------------------------------------------------------- #

V1_TERMS = BUILTIN_CONTEXTS["https://ctx.example/v1"]["@context"]
# Shared pool: one remote context and four inline variants of it.
CONTEXT_POOL: List[Any] = ["https://ctx.example/v1"] + [
    dict(V1_TERMS, **{f"x{k}": f"http://ex.example/x{k}"}) for k in range(4)
]
SHAPES = ["article", "dataset", "howto", "thing", "report"]


def entity_iri(name: str) -> str:
    return f"http://kg.example/e/{name}"


def alt_iri(name: str) -> str:
    return f"http://alt.example/entity/{name}"


def block_body(rng: random.Random, shape: str, key: str, words: List[str],
               lang: str, ctx: Any, entities: List[str], sameas: set) -> str:
    """One JSON-LD block of ``shape``; ``key`` makes its ids unique. The
    sameAs edges a well-formed block states are added to ``sameas``."""
    w = (words + ["pad"] * 8)[:8]
    if shape == "article" or shape == "malformed":
        doc: Dict[str, Any] = {
            "@context": ctx,
            "id": f"article/{key}",
            "type": "Article",
            "headline": " ".join(w[:4]),
            "wordCount": len(words),
            "rating": round(1.0 + rng.randrange(40) / 8.0, 3),
            "author": {"type": "Person", "name": w[0].title() + " " + w[1].title()},
        }
        text = json.dumps(doc, sort_keys=True)
        if shape == "malformed":
            # a strict prefix of a JSON object never parses
            return text[: max(10, int(len(text) * 0.6))]
        return text
    if shape == "dataset":
        doc = {
            "@context": ctx,
            "id": f"dataset/{key}",
            "type": "Dataset",
            "name": " ".join(w[:2]),
            "@graph": [
                {"id": f"part/{key}/1", "type": "CreativeWork", "name": w[2],
                 "mentions": entity_iri(rng.choice(entities))},
                {"id": f"part/{key}/2", "type": "CreativeWork", "name": w[4]},
            ],
        }
    elif shape == "howto":
        doc = {
            "@context": ctx,
            "id": f"howto/{key}",
            "type": "HowTo",
            "steps": [w[0], w[1], w[2]],
            "label": {lang: " ".join(w[:3]), "en": " ".join(w[3:5])},
        }
    elif shape == "thing":
        ent = rng.choice(entities)
        # most sameAs links stay within one entity's aliases; one in eight
        # joins two entities, so components have a few members each
        other = rng.choice(entities) if rng.random() < 0.125 else None
        aliases = [alt_iri(ent), entity_iri(other) if other else alt_iri(ent) + "#aka"]
        sameas.update((entity_iri(ent), a) for a in aliases)
        doc = {
            "@context": ctx,
            "id": entity_iri(ent),
            "type": "Thing",
            "sameAs": aliases,
            "reviewedBy": {"id": f"review/{key}", "type": "Review"},
            "author": {"name": w[5].title()},
        }
    elif shape == "report":
        doc = {
            "@context": ["https://ctx.example/chained", {"score": "http://ex.example/score"}],
            "id": f"report/{key}",
            "type": "Report",
            "score": {"@value": f"{rng.randrange(100) / 10.0}",
                      "@type": "http://www.w3.org/2001/XMLSchema#decimal"},
            "extra": {"@value": "indexed", "@index": f"i{rng.randrange(3)}"},
            "http://ex.example/revision": rng.randrange(5),
        }
    elif shape == "ring":
        # k blank nodes in a directed cycle, all alike: their first-degree
        # hashes collide, so URDNA2015 falls through to hash-n-degree-quads
        k = rng.choice([3, 4])
        doc = {
            "@context": ctx,
            "@graph": [
                {"@id": f"_:r{j}", "type": "Thing", "name": w[0],
                 "http://schema.org/knows": {"@id": f"_:r{(j + 1) % k}"}}
                for j in range(k)
            ],
        }
    else:
        raise ValueError(f"unknown block shape {shape!r}")
    return json.dumps(doc, sort_keys=True)


def plan_blocks(rng: random.Random, n_blocks: int) -> List[str]:
    """Shapes for ``n_blocks`` blocks: exactly n//6 malformed and n//10
    blank-node rings at seeded positions, the rest spread over the five
    well-formed shapes."""
    shapes = [rng.choice(SHAPES) for _ in range(n_blocks)]
    special = rng.sample(range(n_blocks), n_blocks // 6 + n_blocks // 10)
    for i in special[: n_blocks // 6]:
        shapes[i] = "malformed"
    for i in special[n_blocks // 6:]:
        shapes[i] = "ring"
    return shapes


def plan_pages(rng: random.Random, n_pages: int) -> Tuple[List[int], List[str]]:
    """Blocks per page (0-3) and the shape of every block (see plan_blocks)."""
    counts = [rng.choice([0, 1, 2, 2, 3]) for _ in range(n_pages)]
    return counts, plan_blocks(rng, sum(counts))


def _page_rows(rng, counts, shapes, url_of, ctx_of, entities, ts_of, sameas,
               stale_ids=()):
    """(rows, latest): one fresh crawl row per page, plus an older,
    different copy for every page index in ``stale_ids``. ``latest`` holds
    the fresh rows only (the ones latest_pages must keep)."""
    rows, latest = [], []
    pos = 0
    for i, n_blocks in enumerate(counts):
        lang = rng.choice(LANGS)
        text = make_text(rng, lang, rng.randint(40, 160), ENTITY_WORDS, 0.05)
        words = text.split()
        url = url_of(i)
        ctx = ctx_of(i)
        blocks = [
            block_body(rng, shapes[pos + b], f"{i}-{b}", words, lang, ctx, entities, sameas)
            for b in range(n_blocks)
        ]
        pos += n_blocks
        ts = ts_of(i)
        row = {"url": url, "warc_ts": ts, "html": render_html(url, lang, text, blocks),
               "text": text, "lang": lang}
        rows.append(row)
        latest.append(row)
        if i in stale_ids:
            stale_text = text + " stale"
            rows.append({"url": url, "warc_ts": ts - timedelta(days=1),
                         "html": render_html(url, lang, stale_text, blocks[:1]),
                         "text": stale_text, "lang": lang})
    return rows, latest


def _crawl_properties(pages: int, shapes: List[str], recrawled: int, sameas: set) -> dict:
    b = len(shapes)
    return {
        "sameas_edges": len(sameas),
        "small_graph_edges": SMALL_GRAPH_EDGES,
        "pages": pages,
        "blocks": b,
        "blocks_per_page": round(b / pages, 4),
        "malformed_blocks": shapes.count("malformed"),
        "malformed_share": round(shapes.count("malformed") / b, 6),
        "recrawl_share": round(recrawled / pages, 6),
        "bnode_cycle_share": round(shapes.count("ring") / b, 6),
    }


def _write_parquet(rows: List[dict], schema: pa.Schema, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    per = max(1, -(-len(rows) // files))
    for k in range(0, max(len(rows), 1), per):
        part = rows[k:k + per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k // per:05d}.parquet"))


# --------------------------------------------------------------------------- #
# workloads
# --------------------------------------------------------------------------- #


def gen_crawl_build(rng: random.Random, out: str) -> dict:
    entities = rng.sample(VOCAB, CRAWL_ENTITIES)
    counts, shapes = plan_pages(rng, CRAWL_PAGES)
    stale_ids = set(rng.sample(range(CRAWL_PAGES), CRAWL_PAGES // 7))
    sameas: set = set()
    rows, _ = _page_rows(
        rng, counts, shapes,
        url_of=lambda i: f"https://site{i % 23}.example/p/{i}",
        ctx_of=lambda i: rng.choice(CONTEXT_POOL),
        entities=entities,
        ts_of=lambda i: CRAWL_EPOCH + timedelta(seconds=97 * i),
        sameas=sameas,
        stale_ids=stale_ids,
    )
    rng.shuffle(rows)
    _write_parquet(rows, PAGES_SCHEMA, os.path.join(out, "pages"), PAGE_FILES)
    props = _crawl_properties(CRAWL_PAGES, shapes, len(stale_ids), sameas)
    props.update(
        {
            "crawl_rows": len(rows),
            "distinct_contexts": len(CONTEXT_POOL) + 1,
            "dictionary_forms": len(default_dictionary()),
            "dictionary_tier": "single_scan",
        }
    )
    return props


def gen_stream_ingest(rng: random.Random, out: str, n_drops: int) -> dict:
    """``n_drops`` one-site page files, each with its own inline context.
    Every drop after the first also repeats one earlier page with the same
    (url, warc_ts): a re-crawl inside the watermark that the stateful dedup
    must drop."""
    entities = rng.sample(VOCAB, CRAWL_ENTITIES)
    counts, shapes = plan_pages(rng, n_drops * STREAM_PAGES_PER_DROP)
    drops_dir = os.path.join(out, "drops")
    os.makedirs(drops_dir, exist_ok=True)
    fresh: List[dict] = []
    drop_urls: List[List[str]] = []
    sameas: set = set()
    pos = 0
    for d in range(n_drops):
        ctx = dict(V1_TERMS, site=f"http://site{d}.example/vocab#")
        page_counts = counts[d * STREAM_PAGES_PER_DROP:(d + 1) * STREAM_PAGES_PER_DROP]
        rows, _ = _page_rows(
            rng, page_counts, shapes[pos:pos + sum(page_counts)],
            url_of=lambda i, d=d: f"https://site{d}.example/drop/{i}",
            ctx_of=lambda i, ctx=ctx: ctx,
            entities=entities,
            ts_of=lambda i, d=d: CRAWL_EPOCH + timedelta(seconds=d),
            sameas=sameas,
        )
        pos += sum(page_counts)
        dups = [fresh[rng.randrange(len(fresh))]] if fresh else []
        fresh.extend(rows)
        table = pa.Table.from_pylist(rows + dups, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(drops_dir, f"drop-{d:05d}.parquet"))
        drop_urls.append([r["url"] for r in rows])
    with open(os.path.join(out, "drop_urls.json"), "w") as f:
        json.dump(drop_urls, f)
    props = _crawl_properties(len(fresh), shapes, n_drops - 1, sameas)
    props.update(
        {
            "drops": n_drops,
            "pages_per_drop": STREAM_PAGES_PER_DROP,
            "distinct_contexts": n_drops + 1,
        }
    )
    return props


def gen_entity_resolve(rng: random.Random, out: str) -> dict:
    """A triples table whose sameAs graph is far past SMALL_GRAPH_EDGES,
    with skewed components (hubs, long chains, many pairs), plus long-text
    pages and a dictionary with multi-word forms."""
    edges: List[Tuple[str, str]] = []
    sizes: List[int] = []
    node_id = iter(range(10**9))

    def node() -> str:
        return f"http://kg.example/n/{next(node_id):07d}"

    def stars(n_hubs, lo, hi):
        for _ in range(n_hubs):
            hub = node()
            k = rng.randint(lo, hi)
            edges.extend((node(), hub) for _ in range(k))
            sizes.append(k + 1)

    def chains(n, lo, hi):
        for _ in range(n):
            path = [node() for _ in range(rng.randint(lo, hi))]
            edges.extend(zip(path[1:], path[:-1]))
            sizes.append(len(path))

    stars(6, 3000, 6000)  # hub entities
    chains(150, 8, 24)  # alias chains
    stars(24000, 1, 3)  # small components
    # orient half the edges the other way and shuffle: CC sees no order
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)
    nodes = sorted({n for e in edges for n in e})
    triples = []
    for i, (a, b) in enumerate(edges):
        triples.append((f"https://src{i % 97}.example/kg/{i // 97}", "@default", a,
                        SAMEAS, "id", b, None, None))
    for i, n in enumerate(nodes[::4]):
        url = f"https://src{i % 97}.example/node/{i}"
        triples.append((url, "@default", n, SCHEMA_ORG + "name", "literal",
                        rng.choice(VOCAB) + " " + rng.choice(VOCAB), XSD_STRING, None))
        if i % 2 == 0:
            triples.append((url, n, n, SCHEMA_ORG + "about", "id",
                            nodes[rng.randrange(len(nodes))], None, None))
    # 10 % re-stated by another source: dedup_triples keeps the min url
    dups = [(f"https://mirror.example/{i}",) + t[1:]
            for i, t in enumerate(rng.sample(triples, len(triples) // 10))]
    rows = [dict(zip(TRIPLE_COLUMNS, t)) for t in triples + dups]
    rng.shuffle(rows)
    _write_parquet(rows, TRIPLES_SCHEMA, os.path.join(out, "triples"), PAGE_FILES)

    words = rng.sample(VOCAB, RESOLVE_FORMS + RESOLVE_MULTIWORD_FORMS)
    single = words[:RESOLVE_FORMS]
    multi = [
        f"{a} {b}"
        for a, b in zip(words[RESOLVE_FORMS:], rng.sample(single, RESOLVE_MULTIWORD_FORMS))
    ]
    forms = single + multi
    dictionary = []
    for k, f in enumerate(forms):
        dictionary.append({"surface_form": f, "entity_id": entity_iri(f.replace(" ", "_")),
                           "prior": round(0.3 + 0.6 * rng.random(), 4)})
        if k % 10 == 0:
            dictionary.append({"surface_form": f,
                               "entity_id": alt_iri(f.replace(" ", "_")),
                               "prior": round(0.3 * rng.random(), 4)})
    _write_parquet(dictionary, DICT_SCHEMA, os.path.join(out, "dictionary"))
    page_rows = []
    for i in range(RESOLVE_PAGES):
        lang = rng.choice(LANGS)
        text = make_text(rng, lang, rng.randint(*RESOLVE_PAGE_WORDS), forms, 0.08)
        url = f"https://site{i % 23}.example/long/{i}"
        page_rows.append({"url": url, "warc_ts": CRAWL_EPOCH, "html": b"",
                          "text": text, "lang": lang})
    _write_parquet(page_rows, PAGES_SCHEMA, os.path.join(out, "pages"), PAGE_FILES)
    with open(os.path.join(out, "forms.json"), "w") as f:
        json.dump(forms, f)
    sizes.sort(reverse=True)
    return {
        "triples": len(rows),
        "duplicate_triples": len(dups),
        "sameas_edges": len(edges),
        "small_graph_edges": SMALL_GRAPH_EDGES,
        "sameas_nodes": len(nodes),
        "components": len(sizes),
        "largest_component": sizes[0],
        "top6_component_node_share": round(sum(sizes[:6]) / len(nodes), 6),
        "pages": RESOLVE_PAGES,
        "dictionary_forms": len(forms),
        "dictionary_rows": len(dictionary),
        "multiword_forms": len(multi),
        "dictionary_tier": "per_form",
    }


# Corpus text. Words follow a Zipf law over the vocabulary, and every
# document carries its source's header and one of a few shared footers, so
# unrelated documents share frequent word pairs and boilerplate, and MinHash
# emits many false candidates that the Jaccard verify step rejects. With
# these settings about 12-13 % of all pairs of filter-passing documents are
# candidates, near the 15-16 % of the sandbox corpus (documents table at
# scale factor 0.1: 31 uniform words, 10-100 words per document), whose raw
# candidate graph is one component. The boilerplate is the same for every
# seed, so the candidate count does not swing with which phrases a seed
# draws.
CORPUS_ZIPF = 0.9
CORPUS_SOURCES = 5
_ZIPF_CUM = list(itertools.accumulate(1 / (r + 1) ** CORPUS_ZIPF for r in range(len(VOCAB))))


def zipf_word(rng: random.Random) -> str:
    return VOCAB[bisect.bisect(_ZIPF_CUM, rng.random() * _ZIPF_CUM[-1])]


_BOILERPLATE_RNG = random.Random("boilerplate")
HEADERS = [" ".join(zipf_word(_BOILERPLATE_RNG) for _ in range(12))
           for _ in range(CORPUS_SOURCES)]
FOOTERS = [" ".join(zipf_word(_BOILERPLATE_RNG) for _ in range(12)) for _ in range(8)]


def corpus_text(rng: random.Random, lang: str, source: int, n_words: int) -> str:
    """Header of ``source``, ``n_words`` Zipf words with the language's
    marker word at a fixed rate, and a shared footer."""
    marker = LANG_MARKER[lang]
    body = [marker if marker and rng.random() < 0.07 else zipf_word(rng)
            for _ in range(n_words)]
    return " ".join([HEADERS[source]] + body + [rng.choice(FOOTERS)])


def perturb(rng: random.Random, words: List[str]) -> List[str]:
    """Near-duplicate copy: one word dropped or one adjacent pair swapped.
    On 250+ words either keeps the word-2-shingle Jaccard above 0.97, so
    the 4-band MinHash misses such a pair with odds below 1e-6."""
    w = list(words)
    j = rng.randrange(len(w) - 1)
    if rng.random() < 0.5:
        del w[j]
    else:
        w[j], w[j + 1] = w[j + 1], w[j]
    return w


def _shingle_set(text: str) -> set:
    """Word 2-shingles, as ``ops.dedup`` builds them."""
    w = text.split(" ")
    return {" ".join(w[i:i + 2]) for i in range(max(1, len(w) - 1))}


def dedup_pairs(texts: Dict[int, str]) -> Tuple[set, set]:
    """(candidate pairs, verified pairs) of ``texts``, computed the way
    ``ops.corpus.corpus_filter`` does on Spark: two documents are candidates
    when they share one of MINHASH_BANDS band signatures (the least
    md5('b<band>|' + shingle) over their shingles), and a candidate pair is
    verified when its shingle Jaccard is at least DEFAULT_JACCARD."""
    shingles = {d: _shingle_set(t) for d, t in texts.items()}
    buckets: Dict[Tuple[int, str], List[int]] = {}
    for d, sh in shingles.items():
        for b in range(MINHASH_BANDS):
            sig = min(hashlib.md5(f"b{b}|{s}".encode("utf-8")).hexdigest() for s in sh)
            buckets.setdefault((b, sig), []).append(d)
    candidates = {pair for ids in buckets.values()
                  for pair in itertools.combinations(sorted(ids), 2)}
    verified = {(a, b) for a, b in candidates
                if len(shingles[a] & shingles[b])
                >= DEFAULT_JACCARD * len(shingles[a] | shingles[b])}
    return candidates, verified


def _components(nodes, pairs) -> int:
    labels = union_find(pairs)
    return len(set(nodes) - labels.keys()) + len(set(labels.values()))


def gen_corpus_dedup(rng: random.Random, out: str) -> dict:
    """Unique documents plus planted clusters of an original and 1-3
    perturbed copies. One language in six has no marker word, so the
    language filter drops it. The candidate and verified pairs among the
    documents that pass the filters are computed here (``dedup_pairs``);
    the generator fails if any verified pair is not a planted one, so the
    kept set the output checks expect is exact."""
    docs = []
    clusters = []
    for k in range(DEDUP_UNIQUE_DOCS):
        lang = rng.choice(LANGS)
        source = k % CORPUS_SOURCES
        docs.append((corpus_text(rng, lang, source, rng.randint(250, 350)), lang, source))
    # cluster sizes 2, 3, 4 in proportion 2:1:1, at seeded originals
    copies = [1, 1, 2, 3] * (DEDUP_CLUSTERS // 4)
    for c, n_copies in zip(rng.sample(range(DEDUP_UNIQUE_DOCS), DEDUP_CLUSTERS), copies):
        text, lang, source = docs[c]
        members = [c]
        for _ in range(n_copies):
            members.append(len(docs))
            docs.append((" ".join(perturb(rng, text.split())), lang, source))
        clusters.append(members)
    ids = rng.sample(range(10 * len(docs)), len(docs))
    rows = [
        {"doc_id": ids[k], "text": t, "lang": lang, "source": f"src{source}"}
        for k, (t, lang, source) in enumerate(docs)
    ]
    rng.shuffle(rows)
    _write_parquet(rows, DOCS_SCHEMA, os.path.join(out, "docs"), PAGE_FILES)
    planted = [sorted(ids[m] for m in members) for members in clusters]
    with open(os.path.join(out, "clusters.json"), "w") as f:
        json.dump(planted, f)
    # every document has 250+ words, so the quality floor passes them all
    passing = {r["doc_id"]: r["text"] for r in rows
               if r["lang"] in LANG_MARKERS and LANG_MARKERS[r["lang"]] in f" {r['text']} "}
    candidates, verified = dedup_pairs(passing)
    planted_pairs = {pair for c in planted
                     for pair in itertools.combinations([d for d in c if d in passing], 2)}
    if verified - planted_pairs or _components(passing, verified) != _components(
            passing, planted_pairs):
        raise RuntimeError("generated corpus has near-duplicates that were not planted")
    n = len(passing)
    sizes = [len(m) for m in planted]
    return {
        "docs": len(rows),
        "unique_docs": DEDUP_UNIQUE_DOCS,
        "dup_clusters": len(planted),
        "dup_cluster_sizes": {str(s): sizes.count(s) for s in sorted(set(sizes))},
        "dup_docs_share": round(sum(s - 1 for s in sizes) / len(rows), 6),
        "unmarked_lang_share": round(sum(r["lang"] == "zh" for r in rows) / len(rows), 6),
        "passing_docs": n,
        "candidate_pairs": len(candidates),
        "verified_pairs": len(verified),
        "candidates_per_verified": round(len(candidates) / max(1, len(verified)), 3),
        "candidate_share_of_pairs": round(len(candidates) / (n * (n - 1) / 2), 6),
        "candidate_graph_components": _components(passing, candidates),
    }


def generate(workload: str, seed: int, cache_root: str, **kw) -> Tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; returns
    (directory, properties)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(kw.items()))
    out = os.path.join(cache_root, f"v{GENERATOR_VERSION}", workload, f"seed{seed}{tag}")
    props_path = os.path.join(out, "properties.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return out, json.load(f)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(f"{workload}:{seed}")
    gen = {
        "crawl_build": gen_crawl_build,
        "entity_resolve": gen_entity_resolve,
        "stream_ingest": gen_stream_ingest,
        "corpus_dedup": gen_corpus_dedup,
    }[workload]
    props = gen(rng, tmp, **kw)
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, props
