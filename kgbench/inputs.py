"""Seeded input generation and DuckDB oracles for the four workloads.

Everything the engine reads is generated here from ``--seed``: TPC-H
shaped parquet tables, the CSV / JSONL / XML sources staged from them,
the ``many_maps`` mapping and the ``near_dup`` corpus. The same seed
gives byte-identical inputs. The expected output of every workload is
computed once per seed with DuckDB and stored as ``expected.parquet``
(one ``line`` column: an N-Triples line tagged with its dataset name,
or a ``|``-joined row for the parquet outputs of ``near_dup``), so the
per-iteration check is a pure multiset comparison.

All files go under the input directory given by the caller. No Spark.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry

# Workload sizes: one run (set-up, the cold iteration, two or three warm
# ones) takes 25-40 s on a 4-core host, so that ten seeds of all four
# workloads, twice, stay well under an hour. "tiny" is for the self-tests.
SIZES = {
    "full": {"wide_orders": 4000, "maps_orders": 100, "maps_copies": 1,
             "nested_orders": 800, "xml_orders": 4000,
             "near_base": 400, "near_replicas": 3},
    "tiny": {"wide_orders": 300, "maps_orders": 50, "maps_copies": 1,
             "nested_orders": 100, "xml_orders": 300,
             "near_base": 150, "near_replicas": 3},
}

VOCAB = ("a the data table row column key value part order line customer "
         "join merge scan filter group sort hash window batch stream spark "
         "query agg fast slow big small vector index shard node graph edge "
         "triple subject object map term").split()

_PREFIXES = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.org/vocab/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
"""


def _h(seed: int, salt: int, expr: str = "i") -> str:
    """Deterministic per-row hash of ``expr`` under (seed, salt)."""
    return f"hash({expr}, {seed}, {salt})"


def write_tables(con, d: str, seed: int, n_orders: int) -> None:
    """TPC-H shaped region/nation/customer/supplier/orders/lineitem."""
    n_cust = max(n_orders // 10, 20)
    n_supp = max(n_orders // 150, 10)
    h = lambda salt, e="i": _h(seed, salt, e)  # noqa: E731
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    con.execute(
        "CREATE OR REPLACE TABLE region AS SELECT i::INT AS r_regionkey, "
        f"list_extract({regions}, i + 1) AS r_name FROM range(5) t(i)")
    con.execute(
        "CREATE OR REPLACE TABLE nation AS SELECT i::INT AS n_nationkey, "
        "'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey "
        "FROM range(25) t(i)")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    con.execute(f"""
CREATE OR REPLACE TABLE customer AS
SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
       ({h(1)} % 25)::INT AS c_nationkey,
       list_extract({segments}, ({h(3)} % 5)::INT + 1) AS c_mktsegment
FROM range({n_cust}) t(i)""")
    con.execute(f"""
CREATE OR REPLACE TABLE supplier AS
SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
       ({h(4)} % 25)::INT AS s_nationkey
FROM range({n_supp}) t(i)""")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    con.execute(f"""
CREATE OR REPLACE TABLE orders AS
SELECT i::BIGINT AS o_orderkey, ({h(6)} % {n_cust})::BIGINT AS o_custkey,
       list_extract(['F', 'O', 'P'], ({h(7)} % 3)::INT + 1) AS o_orderstatus,
       (({h(8)} % 50000000)::BIGINT + 100000) / 100.0 AS o_totalprice,
       (TIMESTAMP '1992-01-01' + to_days(({h(9)} % 2400)::INT)) AS o_orderdate,
       list_extract({prios}, ({h(10)} % 5)::INT + 1) AS o_orderpriority
FROM range({n_orders}) t(i)""")
    con.execute(f"""
CREATE OR REPLACE TABLE lineitem AS
WITH o AS (SELECT i, (1 + {h(11)} % 7)::INT AS n FROM range({n_orders}) t(i)),
l AS (SELECT i, unnest(range(1, n + 1)) AS ln FROM o)
SELECT i::BIGINT AS l_orderkey,
       ({h(12, 'i, ln')} % {n_orders * 2})::BIGINT AS l_partkey,
       ({h(13, 'i, ln')} % {n_supp})::BIGINT AS l_suppkey,
       ln::INT AS l_linenumber,
       (1 + {h(14, 'i, ln')} % 50)::DOUBLE AS l_quantity,
       (({h(15, 'i, ln')} % 10000000)::BIGINT + 90000) / 100.0 AS l_extendedprice,
       ({h(16, 'i, ln')} % 11)::BIGINT / 100.0 AS l_discount,
       ({h(17, 'i, ln')} % 9)::BIGINT / 100.0 AS l_tax,
       list_extract(['A', 'N', 'R'], ({h(18, 'i, ln')} % 3)::INT + 1) AS l_returnflag,
       list_extract(['F', 'O'], ({h(19, 'i, ln')} % 2)::INT + 1) AS l_linestatus
FROM l""")
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY ALL) TO "
                    f"'{d}/{t}.parquet' (FORMAT PARQUET)")


def write_documents(con, d: str, seed: int, n_base: int, replicas: int) -> None:
    """Seeded near-dup corpus, after tools/gen_scale.py: ``n_base`` random
    documents, each replicated ``replicas`` times. A replica is an exact
    copy (about a third of them, so exact-first clique collapse has
    cliques to collapse) or the base text with one word swapped plus a
    replica token (a near duplicate)."""
    rng = np.random.default_rng(seed)
    stride = 10 ** len(str(n_base))
    rows = []
    for i in range(n_base):
        words = rng.choice(VOCAB, size=int(rng.integers(20, 60))).tolist()
        lang = ("en", "es", "fr", "de", "zh")[int(rng.integers(0, 5))]
        rows.append((i, " ".join(words), lang, f"src{i % 20}"))
        for r in range(1, replicas):
            if rng.random() < 0.35:
                text = " ".join(words)
            else:
                w = list(words)
                w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
                text = " ".join(w) + f" r{r}"
            rows.append((r * stride + i, text, lang, f"src{(i + r) % 20}"))
    frame = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    con.register("frame", frame)
    con.execute("CREATE OR REPLACE TABLE documents AS SELECT doc_id::BIGINT AS "
                "doc_id, text, lang, source, length(text)::BIGINT AS n_chars "
                "FROM frame ORDER BY doc_id")
    con.unregister("frame")
    con.execute(f"COPY documents TO '{d}/documents.parquet' (FORMAT PARQUET)")


def _nt(select_sql: str) -> str:
    return f"SELECT s || ' ' || p || ' ' || o || ' .' AS line FROM ({select_sql})"


def _write_expected(con, d: str, sql: str) -> int:
    con.execute(f"COPY ({sql}) TO '{d}/expected.parquet' (FORMAT PARQUET)")
    return con.execute(
        f"SELECT count(*) FROM '{d}/expected.parquet'").fetchone()[0]


# --- wide_fact ------------------------------------------------------------

def _lineitem_wide_mapping(d: str) -> str:
    """The rml_lineitem_wide mapping: 1 TM x 9 POMs + class."""
    pom = "".join(
        f"""
  rr:predicateObjectMap [ rr:predicate ex:{p};
    rr:objectMap [ rml:reference "{c}"{f'; rr:datatype xsd:{t}' if t else ''} ] ];"""
        for p, c, t in [
            ("part", "l_partkey", "integer"), ("supp", "l_suppkey", "integer"),
            ("line", "l_linenumber", "integer"), ("qty", "l_quantity", "double"),
            ("price", "l_extendedprice", "double"),
            ("discount", "l_discount", "double"), ("tax", "l_tax", "double"),
            ("rflag", "l_returnflag", None), ("lstatus", "l_linestatus", None)])
    return _PREFIXES + f"""
<#L> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/lineitem.parquet"; rml:referenceFormulation ql:Parquet ];
  rr:subjectMap [ rr:template "http://ex.org/li/{{l_orderkey}}/{{l_linenumber}}"; rr:class ex:Lineitem ];{pom.rstrip(';')} .
"""


def gen_wide_fact(con, d: str, seed: int, size: dict) -> dict:
    write_tables(con, d, seed, size["wide_orders"])
    mapping = os.path.join(d, "mapping.ttl")
    with open(mapping, "w") as f:
        f.write(_lineitem_wide_mapping(d))
    n = _write_expected(con, d, _nt(entry._lineitem_wide_oracle()))
    return {"mapping": mapping, "expected_lines": n}


# --- many_maps ------------------------------------------------------------

def _gtfs_tabular_tms(g: str, k: int) -> list[tuple]:
    """The 10 TriplesMaps of rml_gtfs_tabular under namespace ``g``, with
    TriplesMap names suffixed by ``k`` so copies never collide. Each entry
    is (name, source table, subject map body, [POM blocks])."""
    def join(pred, parent, child, par):
        return (f'rr:predicateObjectMap [ rr:predicate ex:{pred}; rr:objectMap [\n'
                f'      rr:parentTriplesMap <#{parent}{k}>;\n'
                f'      rr:joinCondition [ rr:child "{child}"; rr:parent "{par}" ] ] ]')

    def ref(pred, col, dt=None):
        d_ = f"; rr:datatype xsd:{dt}" if dt else ""
        return (f'rr:predicateObjectMap [ rr:predicate ex:{pred}; '
                f'rr:objectMap [ rml:reference "{col}"{d_} ] ]')

    return [
        ("Region", "region", f'"{g}region/{{r_regionkey}}"; rr:class ex:Region',
         [ref("label", "r_name")]),
        ("Nation", "nation", f'"{g}nation/{{n_nationkey}}"; rr:class ex:Nation',
         [ref("name", "n_name"), join("inRegion", "Region", "n_regionkey", "r_regionkey")]),
        ("Customer", "customer", f'"{g}customer/{{c_custkey}}"; rr:class ex:Customer',
         [ref("custName", "c_name"),
          join("custNation", "Nation", "c_nationkey", "n_nationkey")]),
        ("Supplier", "supplier", f'"{g}supplier/{{s_suppkey}}"; rr:class ex:Supplier',
         [ref("suppName", "s_name"),
          join("suppNation", "Nation", "s_nationkey", "n_nationkey")]),
        ("Order", "orders", f'"{g}order/{{o_orderkey}}"; rr:class ex:Order',
         [ref("date", "o_orderdate"), ref("total", "o_totalprice", "double"),
          join("orderedBy", "Customer", "o_custkey", "c_custkey")]),
        ("OrderStatus", "orders", f'"{g}order/{{o_orderkey}}"',
         [ref("status", "o_orderstatus"),
          join("withPriority", "Priority", "o_orderpriority", "o_orderpriority")]),
        ("Priority", "orders", f'"{g}priority/{{o_orderpriority}}"; rr:class ex:Priority', []),
        ("Segment", "customer", f'"{g}segment/{{c_mktsegment}}"; rr:class ex:Segment', []),
        ("CustomerSegment", "customer", f'"{g}customer/{{c_custkey}}"',
         [join("inSegment", "Segment", "c_mktsegment", "c_mktsegment")]),
        ("CalendarDay", "orders", f'"{g}date/{{o_orderdate}}"; rr:class ex:CalendarDay', []),
    ]


def many_maps_mapping(d: str, seed: int, copies: int) -> tuple[str, list[str]]:
    """``copies`` relabelled copies of the rml_gtfs_tabular topology. The
    seed picks each copy's namespace and shuffles TriplesMap and POM
    order; returns (mapping text, namespaces)."""
    rnd = random.Random(seed)
    namespaces = [f"http://ex.org/g{rnd.randrange(16 ** 6):06x}/{k}/"
                  for k in range(copies)]
    blocks = []
    for k, g in enumerate(namespaces):
        for name, src, subj, poms in _gtfs_tabular_tms(g, k):
            rnd.shuffle(poms)
            body = "".join(f";\n  {p}" for p in poms)
            blocks.append(
                f'<#{name}{k}> a rr:TriplesMap;\n'
                f'  rml:logicalSource [ rml:source "{d}/{src}.csv"; '
                f'rml:referenceFormulation ql:CSV ];\n'
                f'  rr:subjectMap [ rr:template {subj} ]{body} .\n')
    rnd.shuffle(blocks)
    return _PREFIXES + "\n" + "\n".join(blocks), namespaces


def _stage_csv(con, d: str) -> None:
    """CSV copies of the tables, as staging.stage_gtfs_sources writes them."""
    for t, cols in (
        ("customer", "c_custkey, c_name, c_nationkey, c_mktsegment"),
        ("orders", "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                   "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority"),
        ("nation", "n_nationkey, n_name, n_regionkey"),
        ("region", "r_regionkey, r_name"),
        ("supplier", "s_suppkey, s_name, s_nationkey"),
    ):
        con.execute(f"COPY (SELECT {cols} FROM {t} ORDER BY 1) TO "
                    f"'{d}/{t}.csv' (HEADER, DELIMITER ',')")


# --- nested_sources -----------------------------------------------------------

_XML_MAPPING = _PREFIXES + """
<#X> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{path}"; rml:referenceFormulation ql:XPath;
                      rml:iterator "/orders/order" ];
  rr:subjectMap [ rr:template "http://ex.org/xorder/{{o_orderkey}}" ];
  rr:predicateObjectMap [ rr:predicate ex:customer; rr:objectMap [
      rr:template "http://ex.org/xcustomer/{{o_custkey}}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ rml:reference "o_orderstatus" ] ];
  rr:predicateObjectMap [ rr:predicate ex:priority; rr:objectMap [ rml:reference "o_orderpriority" ] ] .
"""

_XML_ORACLE = """
SELECT '<http://ex.org/xorder/' || o_orderkey || '>' AS s,
       '<http://ex.org/vocab/customer>' AS p,
       '<http://ex.org/xcustomer/' || o_custkey || '>' AS o FROM xorders
UNION ALL
SELECT '<http://ex.org/xorder/' || o_orderkey || '>', '<http://ex.org/vocab/status>',
       '"' || o_orderstatus || '"' FROM xorders
UNION ALL
SELECT '<http://ex.org/xorder/' || o_orderkey || '>', '<http://ex.org/vocab/priority>',
       '"' || o_orderpriority || '"' FROM xorders
"""

_GATHER_MAPPING = _PREFIXES + """
<#M> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{d}/orders.parquet"; rml:referenceFormulation ql:Parquet ];
  rr:subjectMap [ rr:template "http://ex.org/customer/{{o_custkey}}" ];
  rr:predicateObjectMap [ rr:predicate ex:orders; rr:objectMap [
      rr:template "http://ex.org/orderlist/{{o_custkey}}";
      rml:gather ( [ rr:template "http://ex.org/order/{{o_orderkey}}" ] );
      rml:gatherAs rdf:Seq ] ] .
"""


def _stage_nested_jsonl(con, d: str) -> str:
    """customers -> orders -> items as JSONL, one ``{"customers": [c]}``
    per line (the layout of staging.stage_gtfs_nested(layout="jsonl"))."""
    os.makedirs(f"{d}/nested", exist_ok=True)
    con.execute(f"""
COPY (
  WITH items AS (
    SELECT l_orderkey, list(struct_pack(l_orderkey := l_orderkey,
        l_linenumber := l_linenumber, l_partkey := l_partkey,
        l_quantity := l_quantity) ORDER BY l_linenumber) AS items
    FROM lineitem GROUP BY l_orderkey
  ), onest AS (
    SELECT o.o_custkey, list(struct_pack(o_orderkey := o.o_orderkey,
        o_custkey := o.o_custkey, o_status := o.o_orderstatus,
        o_total := o.o_totalprice, o_date := strftime(o.o_orderdate, '%Y-%m-%d'),
        items := coalesce(i.items, [])) ORDER BY o.o_orderkey) AS orders
    FROM orders o LEFT JOIN items i ON i.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  )
  SELECT [struct_pack(c_custkey := c.c_custkey, c_name := c.c_name,
                      c_nationkey := c.c_nationkey,
                      orders := coalesce(n.orders, []))] AS customers
  FROM customer c LEFT JOIN onest n ON n.o_custkey = c.c_custkey
  ORDER BY c.c_custkey
) TO '{d}/nested/cust_0.jsonl' (FORMAT JSON)""")
    return f"{d}/nested/cust_*.jsonl"


def _stage_orders_xml(con, d: str, seed: int, n: int) -> str:
    """An /orders/order XML document of ``n`` records (attribute key +
    child elements), after __spark_entry__._stage_supplier_xml."""
    h = lambda salt: _h(seed, salt)  # noqa: E731
    con.execute(f"""
CREATE OR REPLACE TABLE xorders AS
SELECT i::BIGINT AS o_orderkey, ({h(31)} % {max(n // 10, 1)})::BIGINT AS o_custkey,
       list_extract(['F', 'O', 'P'], ({h(32)} % 3)::INT + 1) AS o_orderstatus,
       list_extract(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-LOW'],
                    ({h(33)} % 4)::INT + 1) AS o_orderpriority
FROM range({n}) t(i)""")
    path = f"{d}/orders.xml"
    rows = con.execute("SELECT * FROM xorders ORDER BY o_orderkey").fetchall()
    with open(path, "w") as f:
        f.write("<orders>\n")
        for k, c, st, pr in rows:
            f.write(f'<order o_orderkey="{k}"><o_custkey>{c}</o_custkey>'
                    f"<o_orderstatus>{st}</o_orderstatus>"
                    f"<o_orderpriority>{pr}</o_orderpriority></order>\n")
        f.write("</orders>\n")
    return path


def _datasets(con, d: str, parts) -> tuple[list, int]:
    """Write one mapping per (name, mapping, oracle) and the expected
    lines of all of them, each tagged with its dataset name."""
    datasets, expected = [], []
    for name, mapping, oracle in parts:
        path = os.path.join(d, f"{name}.ttl")
        with open(path, "w") as f:
            f.write(mapping)
        datasets.append((name, path))
        expected.append(f"SELECT '{name} ' || line AS line FROM ({_nt(oracle)})")
    return datasets, _write_expected(con, d, " UNION ALL ".join(expected))


def gen_many_maps(con, d: str, seed: int, size: dict) -> dict:
    write_tables(con, d, seed, size["maps_orders"])
    _stage_csv(con, d)
    text, namespaces = many_maps_mapping(d, seed, size["maps_copies"])
    oracle = " UNION ".join(f"({entry._gtfs_composite_oracle(g)})"
                            for g in namespaces)
    datasets, n = _datasets(con, d, [("many_maps", text, oracle)])
    return {"datasets": datasets, "expected_lines": n}


def gen_nested_sources(con, d: str, seed: int, size: dict) -> dict:
    """Three datasets: nested JSONL iterators, the XML record scan and an
    RML-CC gather."""
    write_tables(con, d, seed, size["nested_orders"])
    src = _stage_nested_jsonl(con, d)
    xml = _stage_orders_xml(con, d, seed, size["xml_orders"])
    datasets, n = _datasets(con, d, [
        ("nested_json", entry._gtfs_nested_mapping(src),
         entry._gtfs_nested_oracle()),
        ("orders_xml", _XML_MAPPING.format(path=xml), _XML_ORACLE),
        ("gather_seq", _GATHER_MAPPING.format(d=d), entry._GATHER_SEQ_ORACLE),
    ])
    return {"datasets": datasets, "expected_lines": n}


# --- near_dup ---------------------------------------------------------------

def gen_near_dup(con, d: str, seed: int, size: dict) -> dict:
    write_documents(con, d, seed, size["near_base"], size["near_replicas"])
    # both oracles embed the same MinHash-LSH pair query; evaluate it once
    # (DuckDB re-runs it per step of the components' recursive CTE)
    lsh = entry._minhash_oracle()
    con.execute(f"CREATE TABLE lsh_pairs AS {lsh}")
    filtered, pairs = (
        sql.replace(lsh, "SELECT * FROM lsh_pairs")
        for sql in (entry._dedup_filter_oracle(),
                    entry._jaccard_verify_oracle()))
    n = _write_expected(con, d, f"""
SELECT 'filtered|' || doc_id || '|' || source || '|' || lang AS line FROM ({filtered})
UNION ALL
SELECT 'pairs|' || id_a || '|' || id_b || '|' || jaccard FROM ({pairs})""")
    return {"documents": f"{d}/documents.parquet", "expected_lines": n}


GENERATORS = {"wide_fact": gen_wide_fact, "many_maps": gen_many_maps,
              "nested_sources": gen_nested_sources, "near_dup": gen_near_dup}


def prepare(workload: str, seed: int, root: str, size: str = "full") -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``seed`` under
    ``root``; returns the manifest the worker reads."""
    d = os.path.abspath(os.path.join(root, f"{workload}-{size}-{seed}"))
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"SET temp_directory = '{d}/.duck'")
        info = GENERATORS[workload](con, d, seed, SIZES[size])
    finally:
        con.close()
    info.update(workload=workload, seed=seed, dir=d)
    with open(manifest + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(manifest + ".tmp", manifest)
    return info
