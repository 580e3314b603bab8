"""BoundedMemo (r11): LRU semantics of the compile-latency memos."""

from sdm_rdfizer_spark._memo import BoundedMemo


def test_bounded_memo_evicts_oldest():
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    m["d"] = 4
    assert "a" not in m and len(m) == 3
    assert m.get("b") == 2 and m.get("d") == 4


def test_bounded_memo_hit_refreshes_recency():
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    assert m.get("a") == 1          # refresh: "b" is now oldest
    m["d"] = 4
    assert "b" not in m
    assert m.get("a") == 1 and m.get("c") == 3 and m.get("d") == 4


def test_bounded_memo_subscript_hit_refreshes_recency():
    """The ``key in m`` + ``m[key]`` hit path ages entries like ``get``."""
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    assert "a" in m and m["a"] == 1     # refresh: "b" is now oldest
    m["d"] = 4
    assert "b" not in m
    assert m["a"] == 1 and m["c"] == 3 and m["d"] == 4


def test_bounded_memo_overwrite_keeps_size():
    m = BoundedMemo(2)
    m["a"] = 1
    m["a"] = 5
    m["b"] = 2
    assert len(m) == 2 and m.get("a") == 5
    assert m.get("missing", "dflt") == "dflt"
