"""The oracle check, in a process of its own.

Started by ``worker.py`` once per run, so that DuckDB and the output
lines it reads stay out of the worker's memory (``retained_mb``
measures the engine, not the check). Reads one output directory per
line on stdin and answers one line on stdout (after a first ``ready``
once the oracle is loaded): ``ok``, or why the output
differs from ``expected.parquet`` as an order-insensitive multiset of
lines.

    python3 kgbench/checker.py --manifest M
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import sys
import traceback

import duckdb


def _nt_lines(paths: list[str], tag: str = "") -> list[str]:
    lines = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines.extend(tag + ln for ln in f.read().splitlines() if ln)
    return lines


def wide_fact_lines(manifest: dict, out: str) -> list[str]:
    return _nt_lines(sorted(glob.glob(os.path.join(out, "triples.nt", "part-*"))))


def semantify_lines(manifest: dict, out: str) -> list[str]:
    """One .nt file per dataset, each line tagged with its dataset name."""
    lines = []
    for name, _ in manifest["datasets"]:
        lines += _nt_lines([os.path.join(out, name + ".nt")], name + " ")
    return lines


def near_dup_lines(manifest: dict, out: str) -> list[str]:
    # rendered by DuckDB, exactly as inputs.gen_near_dup renders the
    # oracle rows
    return _column(f"""
SELECT 'filtered|' || doc_id || '|' || source || '|' || lang AS line
FROM read_parquet('{out}/filtered/*.parquet')
UNION ALL
SELECT 'pairs|' || id_a || '|' || id_b || '|' || jaccard
FROM read_parquet('{out}/pairs/*.parquet')""")


def _column(sql: str) -> list[str]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()


RENDER = {"wide_fact": wide_fact_lines, "many_maps": semantify_lines,
          "nested_sources": semantify_lines, "near_dup": near_dup_lines}


class Checker:
    """Order-insensitive multiset comparison against expected.parquet."""

    def __init__(self, manifest: dict):
        self.manifest = manifest
        self.render = RENDER[manifest["workload"]]
        self.expected = collections.Counter(_column(
            f"SELECT line FROM read_parquet('{manifest['dir']}/expected.parquet')"))

    def __call__(self, out: str) -> str | None:
        """None if the output in ``out`` equals the oracle, else why not."""
        got = collections.Counter(self.render(self.manifest, out))
        if got == self.expected:
            return None
        extra = sum((got - self.expected).values())
        missing = sum((self.expected - got).values())
        return f"{extra} unexpected and {missing} missing lines"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    args = ap.parse_args(argv)
    with open(args.manifest) as f:
        check = Checker(json.load(f))
    print("ready", flush=True)
    for line in sys.stdin:
        try:
            why = check(line.rstrip("\n"))
        except Exception:
            traceback.print_exc()
            why = "the check raised"
        print(why or "ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
