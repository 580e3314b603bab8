"""Property-based invariants (hypothesis): literal escaping round-trips,
IRI encoding is idempotent-safe, canonical doubles match repr(float)."""

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def one_col(spark):
    """Evaluate a Column expression over single string values via a
    reusable 1-row frame (one Spark job per example batch would be too
    slow — examples are batched into one DataFrame per test)."""
    return spark


texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)


@settings(max_examples=30, deadline=None)
@given(st.lists(texts, min_size=1, max_size=30))
def test_escape_unescape_roundtrip(spark, vals):
    """sinks.parse_term(unescape) inverts _nt_escape_literal for every
    unicode string (the ADVICE r1 backslash corruption can't recur)."""
    from sdm_rdfizer_spark.compiler.terms import _nt_escape_literal
    from sdm_rdfizer_spark.sinks import parse_term

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select(
        F.concat(F.lit('"'), F.expr(_nt_escape_literal("v")), F.lit('"')).alias("t"),
        "v",
    ).collect()
    for r in out:
        # " inside the body is not escaped by the engine (reference
        # behavior swaps it upstream); parse back everything else
        if '"' in r["v"]:
            continue
        assert parse_term(r["t"])["value"] == r["v"]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=64), min_size=1, max_size=30))
def test_canonical_double_matches_python_repr_roundtrip(spark, vals):
    """canonical_string doubles parse back to the exact same float
    (value-preserving rendering, incl. the ADVICE r1 huge-double path)."""
    from sdm_rdfizer_spark.compiler.terms import canonical_string

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select(F.expr(canonical_string(df, "v")).alias("c"), "v").collect()
    for r in out:
        if r["c"] is None:
            continue
        # EXACT round-trip: the rendered string denotes the same double
        # (notation may differ from repr() in the sub-1e-4 range, but the
        # value never changes)
        assert float(r["c"]) == r["v"], (r["c"], r["v"])


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="ab c/#?&=%+😀é", max_size=20),
                min_size=1, max_size=30))
def test_iri_encoding_produces_parseable_terms(spark, vals):
    """encode_iri_component output contains no raw spaces/quotes/angle
    brackets — the wrapped <iri> term always lexes as one N-Triples term."""
    from sdm_rdfizer_spark.compiler.terms import encode_iri_component

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select(F.expr(encode_iri_component("v")).alias("e")).collect()
    for r in out:
        for ch in ' "<>\n\t':
            assert ch not in (r["e"] or "")


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="ab c/#?&=%+*.~:@_-!$'(),;[]{}|^`\\😀éß",
                        max_size=24), min_size=1, max_size=30))
def test_iri_encoding_matches_reference_quote(spark, vals):
    """EXACT parity with the reference's encoder — urllib.parse.quote(v,
    safe='_-.~:@=+%') (reference functions.py:580-582) — character for
    character, including multi-byte UTF-8 and the pre-encoded-%% corner."""
    from urllib.parse import quote

    from sdm_rdfizer_spark.compiler.terms import encode_iri_component

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select("v", F.expr(encode_iri_component("v")).alias("e")).collect()
    for r in out:
        assert r["e"] == quote(r["v"], safe="_-.~:@=+%"), r["v"]


_ev = st.tuples(st.integers(0, 3),          # key
                st.integers(0, 50),         # time (seconds)
                st.floats(-5, 5, allow_nan=False))


@settings(max_examples=15, deadline=None)
@given(st.lists(_ev, min_size=0, max_size=15),
       st.lists(_ev, min_size=0, max_size=15))
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    """asof_join == per-row brute force: for each left row, the right
    row with max ts <= left ts on the same key (right pre-deduped to
    one row per (key, ts) as the operator documents)."""
    from sdm_rdfizer_spark.ops.asof import asof_join

    # dedupe right to (key, ts) -> max value for determinism
    rmap = {}
    for k, t, v in right_rows:
        rmap[(k, t)] = max(v, rmap.get((k, t), float("-inf")))
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left_rows)] or
        [(0, 0, 0)], ["event_id", "k", "t"]
    ).selectExpr("event_id", "k", "timestamp_seconds(t) AS ts")
    if not left_rows:
        left = left.where("false")
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rmap.items()] or [(0, 0, 0.0)],
        ["k", "t", "value"],
    ).selectExpr("k", "timestamp_seconds(t) AS ts", "value")
    if not rmap:
        right = right.where("false")

    got = {r["event_id"]: r["asof_value"] for r in
           asof_join(left, right, on="ts", by=["k"],
                     right_cols=["value"]).collect()}
    for i, (k, t, _) in enumerate(left_rows):
        cands = [(rt, v) for (rk, rt), v in rmap.items()
                 if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got.get(i) == (None if want is None else
                              __import__("pytest").approx(want)), (i, k, t)
    assert len(got) == len(left_rows)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40)),
                min_size=0, max_size=12),
       st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40),
                          st.integers(0, 15)),
                min_size=0, max_size=8),
       st.integers(1, 17))
def test_interval_join_matches_bruteforce(spark, points, intervals, bucket):
    """interval_bucket_join == brute-force containment for every bucket
    width (bucketing must never change the result set)."""
    from sdm_rdfizer_spark.ops.asof import interval_bucket_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(points)] or [(0, 0, 0)],
        ["event_id", "k", "t"],
    ).selectExpr("event_id", "k", "timestamp_seconds(t) AS ts")
    if not points:
        left = left.where("false")
    right = spark.createDataFrame(
        [(j, k, s, s + d) for j, (k, s, d) in enumerate(intervals)] or
        [(0, 0, 0, 0)], ["window_id", "k", "s", "e"],
    ).selectExpr("window_id", "k", "timestamp_seconds(s) AS start_ts",
                 "timestamp_seconds(e) AS end_ts")
    if not intervals:
        right = right.where("false")

    got = sorted((r["event_id"], r["window_id"]) for r in
                 interval_bucket_join(left, right, on="ts",
                                      start="start_ts", end="end_ts",
                                      by=["k"],
                                      bucket_seconds=bucket).collect())
    want = sorted(
        (i, j)
        for i, (k, t) in enumerate(points)
        for j, (rk, s, d) in enumerate(intervals)
        if k == rk and s <= t <= s + d)
    assert got == want


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet="ab xyé😀", min_size=0, max_size=60),
                min_size=1, max_size=12),
       st.integers(min_value=2, max_value=20))
def test_chunk_documents_covers_and_reassembles(spark, docs_texts, size):
    """Zero-overlap chunks concatenate back to the exact original text;
    with overlap every chunk matches its slice of the source."""
    from sdm_rdfizer_spark.ops.text import chunk_documents

    df = spark.createDataFrame(
        list(enumerate(docs_texts)), "doc_id long, text string")
    rows = chunk_documents(df, size, overlap=0).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    for i, text in enumerate(docs_texts):
        assert "".join(by_doc.get(i, [])) == text

    ov = max(1, size // 3)
    for r in chunk_documents(df, size, overlap=ov).collect():
        text = docs_texts[r["doc_id"]]
        assert r["chunk_text"] == text[r["chunk_start"]:r["chunk_start"] + size]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=10**6),
                          st.sampled_from(["a", "b"])),
                min_size=1, max_size=40))
def test_sliding_window_counts_every_event_twice(spark, events):
    """size/slide = 2 ⇒ every event contributes to exactly two windows:
    total n_events across windows is 2× the input rows."""
    from sdm_rdfizer_spark.ops.sessions import sliding_window_agg

    df = spark.createDataFrame(
        [(i, t, k, 1.0) for i, (t, k) in enumerate(events)],
        "event_id long, tsec long, event_type string, value double",
    ).selectExpr("event_id", "timestamp_seconds(tsec) AS ts",
                 "event_type", "value")
    out = sliding_window_agg(df, size_minutes=10, slide_minutes=5)
    assert sum(r["n_events"] for r in out.collect()) == 2 * len(events)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=30),
                min_size=1, max_size=25),
       st.integers(min_value=2, max_value=64))
def test_sequence_pack_conservation(spark, texts, seq_len):
    """Packing conserves tokens: per shard, offsets tile [0, total) with
    no gaps or overlaps, and every doc's sequence span is consistent."""
    from sdm_rdfizer_spark.ops.sampling import sequence_pack

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    rows = sequence_pack(df, seq_len, n_shards=3).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    n_nonempty = sum(1 for t in texts if t.split())
    assert sum(len(v) for v in by_shard.values()) == n_nonempty
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["tok_offset"])
        expect = 0
        for r in shard_rows:
            assert r["tok_offset"] == expect
            assert r["seq_first"] == r["tok_offset"] // seq_len
            last_tok = r["tok_offset"] + r["n_tokens"] - 1
            assert r["seq_last"] == last_tok // seq_len
            expect += r["n_tokens"]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sampled_from([
            "the quick brown fox jumps over the dog",
            "the quick brown fox jumps over the dog today",
            "lorem ipsum dolor sit amet consectetur",
            "  the quick brown fox jumps over the dog  ",
            "completely different words appear in this one",
            "",
        ]),
        min_size=2, max_size=12,
    ))
def test_minhash_exact_first_always_identical(spark, texts_list):
    """exact_first signature-clique collapse reconstructs the IDENTICAL
    pair set for ANY corpus — duplicates, whitespace variants, empty
    and near-dup texts included (the round-6 core invariant)."""
    from sdm_rdfizer_spark.ops.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_list)],
        "doc_id long, text string")
    key = lambda rows: sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"]) for r in rows)
    plain = key(minhash_lsh_pairs(df, num_hashes=8, bands=4).collect())
    ef = key(minhash_lsh_pairs(df, num_hashes=8, bands=4,
                               exact_first=True).collect())
    assert plain == ef


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sampled_from([
            "the quick brown fox jumps over the dog",
            "the quick brown fox jumps over the dog today",
            "lorem ipsum dolor sit amet consectetur",
            "  the quick brown fox jumps over the dog  ",
            "completely different words appear in this one",
            "",
        ]),
        min_size=2, max_size=12,
    ))
def test_similarity_join_matches_parity_filtered_self_pairs(spark, texts_list):
    """minhash_lsh_join(left, right) over an id-parity split equals the
    self-join candidate set of the WHOLE corpus restricted to
    cross-parity pairs — same md5 band family on both sides, so the
    cross-corpus join must see exactly the pairs the self-join sees."""
    from pyspark.sql import functions as F

    from sdm_rdfizer_spark.ops.dedup import minhash_lsh_join, minhash_lsh_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_list)],
        "doc_id long, text string")
    self_pairs = minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()
    expected = sorted(
        (r["id_a"], r["id_b"], r["n_shared_bands"]) for r in self_pairs
        if r["id_a"] % 2 != r["id_b"] % 2)
    joined = minhash_lsh_join(
        df.where(F.col("doc_id") % 2 == 0),
        df.where(F.col("doc_id") % 2 == 1),
        num_hashes=8, bands=4).collect()
    got = sorted(
        (min(r["left_id"], r["right_id"]), max(r["left_id"], r["right_id"]),
         r["n_shared_bands"]) for r in joined)
    assert got == expected
