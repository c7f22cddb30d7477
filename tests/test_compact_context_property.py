"""Randomized-CONTEXT compaction losslessness (round 7).

tests/test_roundtrip_property.py proves expand∘compact meaning-preservation
under ONE fixed context; this file randomizes the context itself — term
definitions drawn from the shapes the inverse-context/term-selection
machinery branches on (type/language coercions, @list/@set/@index/@language
containers, @reverse terms, prefix definitions, @vocab/@base/@language
defaults, term shadowing of prefixes) — so container selection and
_compact_iri candidate ranking get exercised across contexts, not just
inputs. Contexts that fail context processing and documents that fail
expansion raise typed errors and are out of the property's scope; for
everything else the canonical N-Quads of ``expand(compact(doc))`` must
equal those of ``expand(doc)`` exactly, and a document that RDF conversion
rejects with a node-map error (one node under two ``@index`` values) must be
rejected with the same error code after the round trip.
"""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from jsonld_rs_spark.jsonldpy import (
    DefaultNodeGenerator,
    canonical_nquads,
    expand,
    jsonld_to_rdf,
)
from jsonld_rs_spark.jsonldpy import errors as E
from jsonld_rs_spark.jsonldpy.compact import compact_document

_XSD = "http://www.w3.org/2001/XMLSchema#"
_IRIS = ["http://e/p", "http://e/q", "http://e/r", "http://p.example/v#t"]

_TERM_DEF = st.one_of(
    st.sampled_from(_IRIS),  # simple term -> IRI
    st.fixed_dictionaries(
        {"@id": st.sampled_from(_IRIS)},
        optional={
            "@type": st.sampled_from(
                ["@id", "@vocab", _XSD + "integer", _XSD + "boolean", _XSD + "string"]
            ),
            "@container": st.sampled_from(["@list", "@set", "@index", "@language"]),
            "@language": st.sampled_from(["en", "de", None]),
        },
    ),
    st.fixed_dictionaries({"@reverse": st.sampled_from(_IRIS)}),
)

_CONTEXT = st.fixed_dictionaries(
    {},
    optional={
        "@vocab": st.sampled_from(["http://v.example/", "http://e/"]),
        "@base": st.just("https://h.example/sub/"),
        "@language": st.sampled_from(["en", "fr"]),
        "p": st.just("http://p.example/v#"),
        "t1": _TERM_DEF,
        "t2": _TERM_DEF,
        "t3": _TERM_DEF,
        # a term that shadows the prefix: candidate-ranking corner
        "pt": st.just("http://p.example/v#t"),
    },
)

_scalars = st.one_of(
    st.text(alphabet="ab c", max_size=5),
    st.integers(-3, 3),
    st.booleans(),
    st.just(2.5),
)
_KEYS = st.sampled_from(["t1", "t2", "t3", "p:x", "pt", "http://e/q", "plain"])


def _node(depth: int):
    children = st.deferred(lambda: _node(depth - 1)) if depth > 0 else _scalars
    values = st.one_of(
        _scalars,
        st.lists(_scalars, max_size=3),
        children,
        st.lists(children, max_size=2),
        st.fixed_dictionaries({"@value": _scalars}),
        st.fixed_dictionaries(
            {"@value": st.text(alphabet="xy", max_size=3)},
            optional={"@language": st.sampled_from(["en", "de"])},
        ),
    )
    return st.dictionaries(_KEYS, values, max_size=4).flatmap(
        lambda d: st.sampled_from(["http://e/a", "rel", "_:b0", None]).map(
            lambda i: {**d, "@id": i} if i is not None else d
        )
    )


@given(ctx=_CONTEXT, doc=_node(2))
# a plain-string list must not compact onto an earlier, @id-coerced list
# term for the same IRI (the empty-list patch once made it the @none pick)
@example(
    ctx={
        "@vocab": "http://v.example/",
        "pt": "http://p.example/v#t",
        "t3": {"@id": "http://e/p", "@container": "@list"},
        "t2": {"@id": "http://e/p", "@type": "@id", "@container": "@list"},
    },
    doc={"t3": "", "@id": "http://e/a"},
)
# ... nor onto a language-tagged list term, which would tag the string
@example(
    ctx={"t3": {"@id": "http://e/p", "@container": "@list", "@language": "en"}},
    doc={"t3": {"@value": ""}, "@id": "http://e/a"},
)
# one node under two @index values: RDF conversion rejects the document,
# and must reject its round trip the same way
@example(
    ctx={
        "t2": {
            "@id": "http://e/p",
            "@type": "@id",
            "@language": "en",
            "@container": "@index",
        }
    },
    doc={"t2": {"t1": "", "t2": "", "@id": "http://e/a"}, "@id": "http://e/a"},
)
@settings(
    max_examples=500,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
def test_expand_compact_expand_under_random_contexts(ctx, doc):
    base = "https://h.example/dir/doc"
    src = dict(doc)
    src["@context"] = ctx
    try:
        expanded = expand(src, base=base)
    except E.JsonLdError:
        return

    def nq(ex):
        try:
            dataset = jsonld_to_rdf(ex, DefaultNodeGenerator())
        except E.NodeMapError as err:
            return "node map error: " + err.code
        return canonical_nquads(dataset)

    try:
        compacted = compact_document(src, {"@context": ctx}, base=base)
    except E.JsonLdError:
        return  # context rejected in compaction's own processing: typed, allowed
    assert nq(expand(compacted, base=base)) == nq(expanded)
