"""Regression tests for the round-1 ADVICE findings.

1. childMap/parentMap-only join conditions must resolve the nested
   reference, not the bnode label (rml_parser.py).
2. rml:gather combined with RML-IO logical targets must union cleanly
   with the explode branch's __targets column (compiler/plan.py).
3. Multiple rr:graphMap values emit the triple into EVERY named graph
   (compiler/plan.py, R2RML §9).
4. Doubles outside DECIMAL(38,10) render without a cast overflow
   (compiler/terms.py canonical_string).
5. N-Triples literal unescaping is a single left-to-right pass
   (sinks.parse_term).
"""

import pytest

from sdm_rdfizer_spark import materialize
from sdm_rdfizer_spark.rml_parser import parse_mapping
from sdm_rdfizer_spark.sinks import parse_term
from tests.conftest import triple_set

EX = "http://example.com/vocab/"


# ---------------------------------------------------------------------------
# 1. childMap/parentMap join conditions (new-RML shape)
# ---------------------------------------------------------------------------

CHILDMAP_MAPPING = """
@prefix rml: <http://w3id.org/rml/> .
@prefix ex: <http://example.com/vocab/> .

<#Child> a rml:TriplesMap;
  rml:logicalSource [ rml:source "{d}/child.csv"; rml:referenceFormulation rml:CSV ];
  rml:subjectMap [ rml:template "http://example.com/t/{{tid}}" ];
  rml:predicateObjectMap [
    rml:predicate ex:locatedOn;
    rml:objectMap [ rml:parentTriplesMap <#Parent>;
                    rml:joinCondition [
                      rml:childMap [ rml:reference "tid" ];
                      rml:parentMap [ rml:reference "code" ] ] ] ] .

<#Parent> a rml:TriplesMap;
  rml:logicalSource [ rml:source "{d}/parent.csv"; rml:referenceFormulation rml:CSV ];
  rml:subjectMap [ rml:template "http://example.com/chr/{{chrom}}" ] .
"""


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("advice_fixtures")
    (d / "child.csv").write_text("tid,kind\nT1,coding\nT2,lnc\n")
    (d / "parent.csv").write_text("code,chrom\nT1,chr1\nT2,chr2\n")
    return d


def test_childmap_parentmap_join_keys_parse(fixture_dir):
    tms = parse_mapping(CHILDMAP_MAPPING.format(d=fixture_dir))
    child = next(tm for tm in tms if tm.poms)
    om = child.poms[0].obj
    assert om.join is not None
    assert om.join.child == ["tid"]
    assert om.join.parent == ["code"]


def test_childmap_parentmap_join_end_to_end(spark, fixture_dir):
    triples = materialize(spark, CHILDMAP_MAPPING.format(d=fixture_dir))
    got = triple_set(triples)
    assert ("<http://example.com/t/T1>", f"<{EX}locatedOn>",
            "<http://example.com/chr/chr1>") in got
    assert ("<http://example.com/t/T2>", f"<{EX}locatedOn>",
            "<http://example.com/chr/chr2>") in got


# ---------------------------------------------------------------------------
# 2. gather + logical targets
# ---------------------------------------------------------------------------

GATHER_TARGET_MAPPING = """
@prefix rml: <http://w3id.org/rml/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://example.com/vocab/> .

<#Files> a rml:TriplesMap;
  rml:logicalSource [ rml:source "{d}/child.csv"; rml:referenceFormulation rml:CSV ];
  rml:subjectMap [ rml:template "http://example.com/t/{{tid}}";
                   rml:logicalTarget <#T1> ];
  rml:predicateObjectMap [
    rml:predicate ex:kinds;
    rml:objectMap [ rml:gather ( [ rml:reference "kind" ] );
                    rml:gatherAs rdf:List ] ];
  rml:predicateObjectMap [ rml:predicate ex:kind;
                           rml:objectMap [ rml:reference "kind" ] ] .

<#T1> rml:target [ rml:path "{out}" ]; rml:serialization rml:N-Triples .
"""


def test_gather_with_logical_targets(spark, fixture_dir, tmp_path):
    out = tmp_path / "t1.nt"
    from sdm_rdfizer_spark.engine import materialize_with_targets

    mapping = GATHER_TARGET_MAPPING.format(d=fixture_dir, out=out)
    # must not raise a union column-count mismatch (gather branch used to
    # lack the __targets column)
    main, frames = materialize_with_targets(spark, mapping)
    assert main.count() > 0
    [frame] = list(frames.values())
    # subject-map target routes the subject's triples to the target frame
    assert frame.count() > 0


# ---------------------------------------------------------------------------
# 3. multiple graph maps
# ---------------------------------------------------------------------------

MULTI_GRAPH_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/vocab/> .

<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/child.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://example.com/t/{{tid}}";
                  rr:graph ex:g1; rr:graph ex:g2 ];
  rr:predicateObjectMap [ rr:predicate ex:kind; rr:objectMap [ rml:reference "kind" ] ] .
"""


def test_multiple_graph_maps_emit_into_every_graph(spark, fixture_dir):
    triples = materialize(spark, MULTI_GRAPH_MAPPING.format(d=fixture_dir))
    rows = {(r["s"], r["p"], r["o"], r["g"]) for r in triples.collect()}
    graphs_for_t1 = {g for s, p, o, g in rows
                     if s == "<http://example.com/t/T1>" and p == f"<{EX}kind>"}
    assert graphs_for_t1 == {f"<{EX}g1>", f"<{EX}g2>"}


# ---------------------------------------------------------------------------
# 4. big/precise doubles in canonical_string
# ---------------------------------------------------------------------------

def test_canonical_string_huge_and_precise_doubles(spark):
    from sdm_rdfizer_spark.compiler.terms import canonical_string

    df = spark.createDataFrame(
        [(1e30,), (-2.5e30,), (150.0,), (1234.56,), (None,)], "v double")
    got = [r[0] for r in df.selectExpr(canonical_string(df, "v")).collect()]
    assert got[0] == repr(1e30)          # "1e+30", no CAST_OVERFLOW
    assert got[1] == repr(-2.5e30)       # "-2.5e+30"
    assert got[2] == "150.0"
    assert got[3] == "1234.56"
    assert got[4] is None


# ---------------------------------------------------------------------------
# 5. literal unescape order
# ---------------------------------------------------------------------------

def test_parse_term_unescape_backslash_before_n():
    # N-Triples '\\n' means backslash + 'n', NOT a newline
    assert parse_term(r'"a\\nb"')["value"] == "a\\nb"
    assert parse_term(r'"a\nb"')["value"] == "a\nb".replace(r"\n", "\n")
    assert parse_term(r'"a\\\\b"')["value"] == "a\\\\b"
    assert parse_term(r'"tab\there"')["value"] == "tab\there"
