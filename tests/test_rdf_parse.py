"""Parser unit tests: Turtle subset / N-Triples / flat JSON-LD.

Gold inputs mirror the reference's fixture grammar
(`test/config/migrations/202103191602-create-dummy-import.ttl`,
`test/config/validation/application-profile.ttl`).
"""

from __future__ import annotations

import pytest

from harvesting_validator_spark.sources.rdf_parse import (
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_INTEGER,
    XSD_STRING,
    RdfParseError,
    parse_jsonld,
    parse_ntriples,
    parse_turtle,
)

EX = "http://example.com/ns#"


def test_turtle_basic_semicolon_comma():
    ts = parse_turtle(
        """@prefix ex: <http://example.com/ns#> .
        ex:Bob a ex:Person ;
          ex:ssn "123-45-6789", "124-35-6789" .
        """
    )
    assert (EX + "Bob", RDF_TYPE, EX + "Person", "iri", None, None) in ts
    ssns = [t.obj_value for t in ts if t.pred == EX + "ssn"]
    assert ssns == ["123-45-6789", "124-35-6789"]
    assert all(t.obj_datatype == XSD_STRING for t in ts if t.pred == EX + "ssn")


def test_turtle_datatyped_and_lang_literals():
    ts = parse_turtle(
        '@prefix ex: <http://example.com/ns#> .\n'
        '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:C ex:birthDate "1971-07-07"^^xsd:date ; ex:label "hi"@en-US ; '
        "ex:age 42 ; ex:score 3.14 ; ex:ok true .\n"
    )
    by_pred = {t.pred.rsplit("#", 1)[1]: t for t in ts}
    assert by_pred["birthDate"].obj_datatype.endswith("#date")
    assert by_pred["label"].obj_lang == "en-us"
    assert by_pred["age"].obj_datatype == XSD_INTEGER
    assert by_pred["score"].obj_datatype.endswith("#decimal")
    assert by_pred["ok"].obj_datatype == XSD_BOOLEAN


def test_turtle_bnodes_and_collections():
    ts = parse_turtle(
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
        "<http://s> sh:property [ sh:path <http://p> ; sh:maxCount 1 ] ;\n"
        "  sh:ignoredProperties ( rdf:type ) .\n"
    )
    bnode_objs = [t for t in ts if t.obj_kind == "bnode"]
    assert len(bnode_objs) == 2  # property bnode + list head
    firsts = [t for t in ts if t.pred.endswith("#first")]
    assert firsts[0].obj_value == RDF_TYPE


def test_turtle_string_escapes():
    ts = parse_turtle('<http://s> <http://p> "a\\"b\\nc\\u00e9" .')
    assert ts[0].obj_value == 'a"b\ncé'


def test_ntriples():
    ts = parse_ntriples(
        "<http://s> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://T> .\n"
        '<http://s> <http://p> "v"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    assert ts[0].obj_kind == "iri"
    assert ts[1].obj_datatype == "http://www.w3.org/2001/XMLSchema#integer"


def test_jsonld_flat():
    ts = parse_jsonld(
        '{"@id": "http://example.com/ns#P1", "@type": "http://example.com/ns#Person",'
        ' "http://example.com/ns#ssn": "123-45-6789",'
        ' "http://example.com/ns#worksFor": {"@id": "http://example.com/ns#C"},'
        ' "http://example.com/ns#age": 3}'
    )
    kinds = {t.pred.rsplit("#", 1)[1]: t for t in ts}
    assert kinds["type"].obj_value == EX + "Person"
    assert kinds["ssn"].obj_datatype == XSD_STRING
    assert kinds["worksFor"].obj_kind == "iri"
    assert kinds["age"].obj_datatype == XSD_INTEGER


def test_jsonld_graph_and_context():
    ts = parse_jsonld(
        '{"@context": {"ex": "http://example.com/ns#"},'
        ' "@graph": [{"@id": "ex:A", "ex:p": [{"@value": "x", "@language": "en"}]}]}'
    )
    assert ts[0].subj == EX + "A"
    assert ts[0].obj_lang == "en"


def test_jsonld_expanded_term_definitions():
    """ADVICE r2 polish: {"@id": str} term definitions must expand (both
    as a term and as a prefix); everything needing the full expansion
    algorithm must RAISE (-> parse_error row), never resolve terms
    against the wrong context."""
    ts = parse_jsonld(
        '{"@context": {"name": {"@id": "http://e.org/name"},'
        '              "ex": {"@id": "http://e.org/"}},'
        ' "@id": "http://e.org/p1", "name": "Alice", "ex:age": 3}'
    )
    t = {(x.pred, x.obj_value) for x in ts}
    assert ("http://e.org/name", "Alice") in t
    assert ("http://e.org/age", "3") in t

    for bad in [
        # remote (string) and array contexts
        '{"@context": "http://e.org/ctx.jsonld", "@id": "http://s"}',
        '{"@context": [{"ex": "http://e.org/"}], "@id": "http://s"}',
        # term definition with coercion
        '{"@context": {"w": {"@id": "http://e.org/w", "@type": "@id"}},'
        ' "@id": "http://s", "w": "http://o"}',
        # scoped contexts are supported ONLY in the flat-dict subset:
        # a remote/array scoped context must still degrade
        '{"@id": "http://s", "http://p":'
        ' {"@context": "http://e.org/ctx.jsonld", "ex:q": "v"}}',
        '{"@graph": [{"@context": [{"ex": "http://x/"}],'
        ' "@id": "http://s", "ex:q": "v"}]}',
        # a scoped context inside a VALUE object would rebind the @type
        # term — must degrade, never emit a wrongly-typed literal
        '{"@id": "http://s", "http://p":'
        ' {"@value": "5", "@type": "n",'
        '  "@context": {"n": "http://x/num"}}}',
    ]:
        with pytest.raises(RdfParseError):
            parse_jsonld(bad)


def test_jsonld_scoped_contexts():
    """Scoped @context (flat-dict subset) merges over the inherited
    mapping for that node and its descendants — the child's own @id
    resolves under the CHILD's context — while siblings keep the parent
    mapping (JSON-LD 1.1 embedded-context propagation)."""
    ts = parse_jsonld(
        '{"@context": {"ex": "http://a/", "name": "http://a/name"},'
        ' "@id": "ex:root", "name": "top",'
        ' "ex:child": {"@context": {"ex": "http://b/",'
        '                           "tag": {"@id": "http://b/tag"}},'
        '              "@id": "ex:kid", "tag": "inner",'
        '              "ex:grand": {"@id": "ex:deep"}},'
        ' "ex:sibling": {"@id": "ex:sib"}}'
    )
    got = {(t.subj, t.pred, t.obj_value) for t in ts}
    assert ("http://a/root", "http://a/name", "top") in got
    # child @id + link resolve under the child's rebound 'ex'
    assert ("http://a/root", "http://a/child", "http://b/kid") in got
    # descendants inherit the merged mapping
    assert ("http://b/kid", "http://b/tag", "inner") in got
    assert ("http://b/kid", "http://b/grand", "http://b/deep") in got
    # the sibling is untouched by the child's rebinding
    assert ("http://a/root", "http://a/sibling", "http://a/sib") in got

    # graph members and top-level list elements may carry their own context
    ts2 = parse_jsonld(
        '{"@graph": [{"@context": {"ex": "http://x/"},'
        ' "@id": "http://s", "ex:q": "v"}]}'
    )
    assert {(t.subj, t.pred) for t in ts2} == {("http://s", "http://x/q")}
    ts3 = parse_jsonld(
        '[{"@context": {"ex": "http://x/"}, "@id": "ex:s", "ex:q": "v"}]'
    )
    assert {(t.subj, t.pred) for t in ts3} == {("http://x/s", "http://x/q")}


def test_malformed_raises():
    with pytest.raises(RdfParseError):
        parse_turtle("ex:NoPrefix a ex:Person .")
    with pytest.raises(RdfParseError):
        parse_turtle("<http://s> <http://p> .")


def test_reference_fixture_roundtrip():
    # the reference's dummy-import migration, kept in-repo as the five
    # golden docs (FIXTURES.md §2 pins the same 14 triples)
    from harvesting_validator_spark.sources.synthetic import GOLDEN_DOCS

    ts = parse_turtle("".join(GOLDEN_DOCS.values()))
    assert len(ts) == 14
    subj_counts = {}
    for t in ts:
        subj_counts[t.subj] = subj_counts.get(t.subj, 0) + 1
    assert subj_counts[EX + "Bob"] == 3
    assert subj_counts[EX + "Calvin"] == 5


def test_jsonld_nested_node_objects():
    ts = parse_jsonld(
        '{"@context": {"ex": "http://e.org/"},'
        ' "@id": "ex:p1", "@type": "ex:Person",'
        ' "ex:address": {"ex:city": "Ghent",'
        '                "ex:country": {"@id": "ex:BE"}},'
        ' "ex:knows": {"@id": "ex:p2", "ex:name": "Two"}}'
    )
    t = {(x.subj, x.pred, x.obj_value, x.obj_kind) for x in ts}
    # nested bnode minted + linked, its own triples emitted
    bnodes = {o for s, p, o, k in t if p == "http://e.org/address"}
    assert len(bnodes) == 1
    (b,) = bnodes
    assert b.startswith("_:")
    assert (b, "http://e.org/city", "Ghent", "literal") in t
    assert (b, "http://e.org/country", "http://e.org/BE", "iri") in t
    # nested node WITH @id keeps its IRI and emits nested props
    assert ("http://e.org/p1", "http://e.org/knows", "http://e.org/p2", "iri") in t
    assert ("http://e.org/p2", "http://e.org/name", "Two", "literal") in t


def test_jsonld_empty_value_object_degrades_not_crashes():
    """ADVICE r1 (medium): {} slipped through the set(v) <= {'@id'} branch
    and raised an uncaught KeyError that failed the whole job. It must be
    an RdfParseError kernel-side and a __parse_error__ row Spark-side."""
    bad = '{"@id": "http://s", "http://p": {}}'
    with pytest.raises(RdfParseError):
        parse_jsonld(bad)


def test_parser_kernel_bug_yields_error_row_not_job_failure(spark):
    """Any exception class escaping the parse kernel must degrade to a
    per-doc parse_error row — one malformed harvested doc must never kill
    the batch."""
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )

    rows = [
        ("r", "a.jsonld", "c1", "jsonld", '{"@id": "http://s", "http://p": {}}'),
        ("r", "b.jsonld", "c2", "jsonld", '{"@id": "http://s", "http://p": "ok"}'),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    triples, errors = parse_sources_to_triples(src, with_errors=True)
    assert triples.count() == 1
    errs = errors.collect()
    assert len(errs) == 1 and "value object" in errs[0].parse_error


RDFXML_DOC = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.com/ns#">
  <ex:Person rdf:about="http://example.com/ns#Alice" ex:nick="Al">
    <ex:ssn rdf:datatype="http://www.w3.org/2001/XMLSchema#string">123-45-6789</ex:ssn>
    <ex:name>Alice</ex:name>
    <ex:label xml:lang="EN">A label</ex:label>
    <ex:worksFor rdf:resource="http://example.com/ns#Acme"/>
    <ex:address rdf:parseType="Resource">
      <ex:city>Gent</ex:city>
    </ex:address>
    <ex:friend>
      <rdf:Description rdf:nodeID="b1">
        <ex:name>Bob</ex:name>
      </rdf:Description>
    </ex:friend>
  </ex:Person>
</rdf:RDF>"""

TURTLE_EQUIV = """@prefix ex: <http://example.com/ns#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:Alice a ex:Person ;
  ex:nick "Al" ;
  ex:ssn "123-45-6789"^^xsd:string ;
  ex:name "Alice" ;
  ex:label "A label"@en ;
  ex:worksFor ex:Acme ;
  ex:address _:a1 ;
  ex:friend _:b1 .
_:a1 ex:city "Gent" .
_:b1 ex:name "Bob" .
"""


def _canon(triples):
    """Triple set with bnode labels canonicalized away (the two formats
    mint different labels; identity under renaming is what matters)."""
    return {
        (
            "_:" if t.subj.startswith("_:") else t.subj,
            t.pred,
            "_:" if t.obj_kind == "bnode" else t.obj_value,
            t.obj_kind,
            t.obj_datatype,
            t.obj_lang,
        )
        for t in triples
    }


def test_rdfxml_matches_turtle_equivalent():
    from harvesting_validator_spark.sources.rdf_parse import parse_rdfxml

    assert _canon(parse_rdfxml(RDFXML_DOC)) == _canon(parse_turtle(TURTLE_EQUIV))


def test_rdfxml_unsupported_constructs_degrade():
    from harvesting_validator_spark.sources.rdf_parse import parse_rdfxml

    rdfns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    for bad in [
        "not xml",
        f'<rdf:RDF xmlns:rdf="{rdfns}"><rdf:Description rdf:ID="x"/></rdf:RDF>',
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://s">'
        '<ex:p rdf:parseType="Collection"/></rdf:Description></rdf:RDF>',
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://s">'
        "<rdf:li>v</rdf:li></rdf:Description></rdf:RDF>",
        # unnamespaced property element
        f'<rdf:RDF xmlns:rdf="{rdfns}">'
        '<rdf:Description rdf:about="http://s"><p>v</p></rdf:Description>'
        "</rdf:RDF>",
    ]:
        with pytest.raises(RdfParseError):
            parse_rdfxml(bad)


def test_rdfxml_through_spark_kernel(spark):
    """RDF/XML flows through the Arrow parse kernel by lang tag, mixing
    with other formats in one batch; a malformed sibling degrades to a
    parse_error row without touching the good doc."""
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )

    rows = [
        ("r", "a.rdf", "c1", "rdfxml", RDFXML_DOC),
        ("r", "b.ttl", "c2", "turtle", TURTLE_EQUIV),
        ("r", "c.rdf", "c3", "rdfxml", "<rdf:RDF>broken"),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    triples, errors = parse_sources_to_triples(src, with_errors=True)
    per_doc = {
        r.doc_id: r["count"]
        for r in triples.groupBy("doc_id").count().collect()
    }
    assert sorted(per_doc.values()) == [10, 10]  # same triple count both formats
    errs = errors.collect()
    assert len(errs) == 1 and "malformed RDF/XML" in errs[0].parse_error


# --- property test: RDF/XML and Turtle serializations of one graph agree ----
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORD = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 ", min_size=0, max_size=24
)
_LOCAL = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
_triple_spec = st.tuples(
    _LOCAL,  # subject local name
    _LOCAL,  # predicate local name
    st.one_of(
        st.tuples(st.just("lit"), _WORD),
        st.tuples(st.just("iri"), _LOCAL),
    ),
)


@settings(max_examples=40, deadline=None)
@given(specs=st.lists(_triple_spec, min_size=1, max_size=12))
def test_rdfxml_turtle_cross_format_property(specs):
    """Serialize ONE random graph to both RDF/XML and Turtle; both
    parsers must produce the identical triple set (XML escaping, string
    escaping, and xsd:string defaulting all have to agree for this to
    hold on arbitrary inputs)."""
    from xml.sax.saxutils import escape, quoteattr

    from harvesting_validator_spark.sources.rdf_parse import parse_rdfxml

    ex = "http://example.com/ns#"
    xml_parts = [
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:ex="http://example.com/ns#">'
    ]
    ttl_parts = ["@prefix ex: <http://example.com/ns#> ."]
    for s, p, (kind, v) in specs:
        if kind == "iri":
            xml_parts.append(
                f'<rdf:Description rdf:about={quoteattr(ex + s)}>'
                f'<ex:{p} rdf:resource={quoteattr(ex + v)}/>'
                "</rdf:Description>"
            )
            ttl_parts.append(f"ex:{s} ex:{p} ex:{v} .")
        else:
            xml_parts.append(
                f'<rdf:Description rdf:about={quoteattr(ex + s)}>'
                f"<ex:{p}>{escape(v)}</ex:{p}>"
                "</rdf:Description>"
            )
            ttl_parts.append(f'ex:{s} ex:{p} "{v}" .')
    xml_parts.append("</rdf:RDF>")
    got_xml = set(parse_rdfxml("".join(xml_parts)))
    got_ttl = set(parse_turtle("\n".join(ttl_parts)))
    assert got_xml == got_ttl


def test_rdfxml_mixed_content_raises():
    """ADVICE r3: text interleaved with a nested node element must raise
    (Jena rejects the document), never silently drop the text — both
    leading text and child tail text."""
    from harvesting_validator_spark.sources.rdf_parse import parse_rdfxml

    rdfns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    for bad in [
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://s">'
        '<ex:p>hello<rdf:Description rdf:about="http://n"/></ex:p>'
        "</rdf:Description></rdf:RDF>",
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://s">'
        '<ex:p><rdf:Description rdf:about="http://n"/>tail</ex:p>'
        "</rdf:Description></rdf:RDF>",
    ]:
        with pytest.raises(RdfParseError):
            parse_rdfxml(bad)


def test_rdfxml_relative_iris_raise():
    """ADVICE r3: rdf:about / rdf:resource carrying a relative IRI need
    base resolution (which this subset does not do) — degrade to a parse
    error instead of emitting the relative form as a wrong triple."""
    from harvesting_validator_spark.sources.rdf_parse import parse_rdfxml

    rdfns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    for bad in [
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="foo"><ex:p>v</ex:p>'
        "</rdf:Description></rdf:RDF>",
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="http://s">'
        '<ex:p rdf:resource="bar"/></rdf:Description></rdf:RDF>',
        # scheme-less path with slashes is still relative
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="/abs/path"><ex:p>v</ex:p>'
        "</rdf:Description></rdf:RDF>",
    ]:
        with pytest.raises(RdfParseError):
            parse_rdfxml(bad)
    # urn:/http(s): schemes keep parsing
    ok = (
        f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:ex="http://e/">'
        '<rdf:Description rdf:about="urn:uuid:abc">'
        '<ex:p rdf:resource="https://t/x"/></rdf:Description></rdf:RDF>'
    )
    triples = parse_rdfxml(ok)
    assert [(t.subj, t.obj_value) for t in triples] == [("urn:uuid:abc", "https://t/x")]


def test_generated_corpus_covers_all_parse_kernels(spark):
    """The synthetic corpus feeding the driver's kg_* queries round-robins
    all five serializations (VERDICT r3 ask #6); every slice parses with
    zero error rows and identical per-doc semantics."""
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples
    from harvesting_validator_spark.sources.synthetic import generate_sources

    src = generate_sources(spark, 25)
    langs = {r.lang for r in src.select("lang").distinct().collect()}
    assert langs == {"turtle", "ntriples", "jsonld", "rdfxml"}
    exts = {r.path.rsplit(".", 1)[-1] for r in src.select("path").collect()}
    assert exts == {"ttl", "nt", "jsonld", "rdf"}
    triples, errors = parse_sources_to_triples(src, with_errors=True)
    assert errors.count() == 0
    # conforming docs (mode<7) carry exactly 2 triples in every format
    from pyspark.sql import functions as F

    per_doc = triples.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    assert per_doc.filter(F.col("n") < 2).count() == 0
