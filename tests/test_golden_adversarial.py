"""Adversarial golden outputs: names and values that stress quoting.

Column names carry ``.``, a space, ``@``, ``-`` and a backtick; JSON
references are dotted nested paths and an inline predicate. Values and
template fragments carry ``'``, ``\\``, ``"``, ``$1``, ``%``, escaped
``\\{``/``\\}``, a tab, a newline and a non-BMP character. Every term kind
the compiler renders per row is covered: IRI (absolute and base-completed),
blank node, reference literal, template literal, ``rr:language`` and
inferred datatypes.

The expected lines in ``fixtures/golden_adversarial/expected.json`` were
generated once and are compared exactly, so any drift in how terms are
rendered fails here.
"""

import json
import os

import pytest

from sdm_rdfizer_spark import materialize

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "fixtures", "golden_adversarial", "expected.json")

PFX = r"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.com/> .
"""

PEOPLE_CSV = (
    "id,a.b,c d,e@f,g-h,i`j,num\n"
    "1,it's,back\\slash here,\"say \"\"hi\"\"\",$1 cost,50% off,1.50\n"
    "2,tab\there,\U0001F600 smile,\"a,b\",{x},N/A,2\n"
    "3,  padded  ,http://ex.org/x y,plain,$2$1,100%,true\n"
    "3,  padded  ,http://ex.org/x y,plain,$2$1,100%,true\n"
    "4,a/b.c,%41 \\u0041,\"O'Neil\\ ' \"\" end\",x y,`tick`,-0.50\n"
)

CSV_MAPPING = r"""
<#P> a rr:TriplesMap;
  rml:logicalSource [ rml:source "@DIR@/people.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.com/p/{id}"; rr:class ex:P ];
  rr:predicateObjectMap [ rr:predicate ex:iri; rr:objectMap [
      rr:template "http://ex.com/v/{c d}/{a.b}?q='{e@f}'&x=\\{lit\\}%25$1\t\\\\" ] ];
  rr:predicateObjectMap [ rr:predicate ex:rel; rr:objectMap [
      rr:template "rel/{g-h}\"{i`j}"; rr:termType rr:IRI ] ];
  rr:predicateObjectMap [ rr:predicate ex:blank; rr:objectMap [
      rr:template "b/{g-h}.{i`j}%"; rr:termType rr:BlankNode ] ];
  rr:predicateObjectMap [ rr:predicate ex:ref; rr:objectMap [ rml:reference "e@f" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ref2; rr:objectMap [ rml:reference "a.b" ] ];
  rr:predicateObjectMap [ rr:predicate ex:tlit; rr:objectMap [
      rr:template "x'\"\\ $1 %\t{c d}\n\U0001F600 \\{ {i`j} \\}"; rr:termType rr:Literal ] ];
  rr:predicateObjectMap [ rr:predicate ex:lang; rr:objectMap [
      rml:reference "c d"; rr:language "en-US" ] ];
  rr:predicateObjectMap [ rr:predicate ex:num; rr:objectMap [ rml:reference "num" ] ];
  rr:predicateObjectMap [ rr:predicate ex:dec; rr:objectMap [
      rml:reference "num"; rr:datatype xsd:decimal ] ] .
"""

PEOPLE_JSON = r"""{"people": [
  {"id": 1, "info": {"name": "O'Brien \\ \"q\" $1", "note": "line1\nline2\ttab %"},
   "score": 1.5, "big": 1e30, "flag": true,
   "tags": [{"k": "a", "v": "x$1"}, {"k": "b", "v": "y%\\"}],
   "url": "http://ex.org/a b", "when": "2020-01-02"},
  {"id": 2, "info": {"name": "\ud83d\ude00 smile", "note": "  "},
   "score": 150.0, "big": 0.1, "flag": false,
   "tags": [{"k": "b", "v": "z'"}], "url": "rel path/\u00e9",
   "when": "2020-01-02 10:11:12"},
  {"id": 3, "info": {"name": "N/A", "note": "{brace} \\{"},
   "score": 12345678.9, "big": -2.5e-7, "flag": null, "tags": [],
   "url": null, "when": "42"}
]}
"""

JSON_MAPPING = r"""
<#J> a rr:TriplesMap;
  rml:logicalSource [ rml:source "@DIR@/people.json";
      rml:referenceFormulation ql:JSONPath; rml:iterator "$.people[*]" ];
  rr:subjectMap [ rr:template "http://ex.com/j/{info.name}";
      rr:graphMap [ rr:template "http://ex.com/g/{id}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "info.name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:note; rr:objectMap [
      rml:reference "info.note"; rr:language "fr" ] ];
  rr:predicateObjectMap [ rr:predicate ex:score; rr:objectMap [ rml:reference "score" ] ];
  rr:predicateObjectMap [ rr:predicate ex:big; rr:objectMap [ rml:reference "big" ] ];
  rr:predicateObjectMap [ rr:predicate ex:flag; rr:objectMap [ rml:reference "flag" ] ];
  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ rml:reference "id" ] ];
  rr:predicateObjectMap [ rr:predicate ex:when; rr:objectMap [ rml:reference "when" ] ];
  rr:predicateObjectMap [ rr:predicate ex:tag; rr:objectMap [
      rml:reference "tags[?(@.k=='b')].v" ] ];
  rr:predicateObjectMap [ rr:predicate ex:url; rr:objectMap [
      rr:template "{url}"; rr:termType rr:IRI ] ];
  rr:predicateObjectMap [ rr:predicate ex:bn; rr:objectMap [
      rr:template "n.{info.note}/{id}"; rr:termType rr:BlankNode ] ];
  rr:predicateObjectMap [ rr:predicate ex:tl; rr:objectMap [
      rr:template "{info.name}|{score}|\\{x\\}"; rr:termType rr:Literal ] ] .
"""

CASES = {
    "csv": ({"people.csv": PEOPLE_CSV}, CSV_MAPPING),
    "json": ({"people.json": PEOPLE_JSON}, JSON_MAPPING),
}


def render(spark, tmp_path, case: str, infer: bool, **kw) -> list[str]:
    files, mapping = CASES[case]
    for name, content in files.items():
        (tmp_path / name).write_text(content, encoding="utf-8")
    df = materialize(spark, PFX + mapping.replace("@DIR@", str(tmp_path)),
                     infer_datatypes=infer, **kw)
    out = []
    for r in df.select("s", "p", "o", "g").collect():
        g = "" if r["g"] is None else f" {r['g']}"
        out.append(f"{r['s']} {r['p']} {r['o']}{g} .")
    return sorted(out)


@pytest.mark.parametrize("infer", [False, True], ids=["plain", "infer"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_adversarial_golden(spark, tmp_path, case, infer):
    with open(EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)[f"{case}_{'infer' if infer else 'plain'}"]
    assert render(spark, tmp_path, case, infer) == expected


def test_adversarial_golden_narrow_dedup(spark, tmp_path):
    """The CSV subject key repeats, so with the size gate at 0 the TriplesMap
    takes the narrow dedup path (dedup below rendering, subject rendered
    after the shuffle): same lines as the direct plan."""
    with open(EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)["csv_plain"]
    assert render(spark, tmp_path, "csv", False,
                  narrow_dedup_min_bytes=0) == expected
