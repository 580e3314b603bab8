"""Per-layer metrics of the traced run.

``iteration_metrics`` reads one traced iteration: its spans, py4j call
counts and the Spark jobs of its job group. ``probe`` then times single
layers in isolation, outside any timed iteration: each logical source
the mappings name, read by ``sources.read_source`` (JSON: parse and
iterator explode) to a noop sink, the N-Triples sink over a persisted
triples frame, the dedup factor of the mapping, and each ``ops.dedup``
step.
Every metric in ``PER_LAYER`` is reported for every workload; a layer a
workload never calls reads 0.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from sdm_rdfizer_spark import engine, sinks
from sdm_rdfizer_spark.ops import dedup

import workloads
from spans import spark_jobs

PER_LAYER = {
    "turtle.parse_s": "s", "rml_parser.extract_s": "s",
    "rml_parser.triples_maps": "count",
    "compiler.build_s": "s", "compiler.py4j_calls": "count",
    "compiler.build_jobs": "count", "compiler.dedup_yield": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_nodes": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "sources.scan_s": "s", "sources.rows": "count",
    "sinks.write_s": "s", "sinks.mb": "MB", "sinks.files": "count",
    "ops.dedup.signature_s": "s", "ops.dedup.pairs_s": "s",
    "ops.dedup.candidate_pairs": "count", "ops.dedup.verify_s": "s",
    "ops.dedup.verify_yield": "ratio", "ops.dedup.canonical_s": "s",
    "ops.dedup.dropped_docs": "count",
    "setup.session_s": "s", "setup.warmup_s": "s",
    "engine.conf_drift": "count",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}


def _sum(spans: list[dict], name: str, key=None) -> float:
    return sum((s["t1"] - s["t0"]) if key is None else key(s)
               for s in spans if s["name"] == name)


def iteration_metrics(spark, spans: list[dict], group: str) -> dict:
    root = next(s for s in spans if s["name"] == "iteration")
    wall = root["t1"] - root["t0"]
    builds = [s for s in spans if s["name"] == "compiler.build"]
    jobs = spark_jobs(spark, group)
    phases = [s["phases"] for s in spans if s["name"] == "catalyst"]
    top = sum(s["t1"] - s["t0"] for s in spans if s["parent"] == root["id"])
    cores = spark.sparkContext.defaultParallelism
    return {
        "turtle.parse_s": _sum(spans, "turtle.parse"),
        "rml_parser.extract_s": _sum(spans, "rml_parser.extract"),
        "rml_parser.triples_maps": _sum(spans, "rml_parser.extract",
                                        lambda s: s["n"]),
        "compiler.build_s": _sum(spans, "compiler.build"),
        "compiler.py4j_calls": sum(s["calls1"] - s["calls0"] for s in builds),
        "compiler.build_jobs": sum(
            1 for t0, _ in jobs["job_times"]
            if t0 is not None and any(b["epoch0"] <= t0 <= b["epoch1"] for b in builds)),
        "catalyst.analysis_s": sum(p.get("analysis", 0.0) for p in phases),
        "catalyst.optimization_s": sum(p.get("optimization", 0.0) for p in phases),
        "catalyst.planning_s": sum(p.get("planning", 0.0) for p in phases),
        "catalyst.plan_nodes": _sum(spans, "catalyst", lambda s: s["plan_nodes"]),
        "exec.run_s": jobs["run_s"], "exec.jobs": jobs["jobs"],
        "exec.stages": jobs["stages"], "exec.tasks": jobs["tasks"],
        "exec.task_s": jobs["task_s"], "exec.cpu_s": jobs["cpu_s"],
        "exec.gc_s": jobs["gc_s"],
        "exec.busy_frac": (jobs["task_s"] / (jobs["run_s"] * cores)
                           if jobs["run_s"] else 0.0),
        "exec.shuffle_write_mb": jobs["shuffle_write_mb"],
        "exec.shuffle_read_mb": jobs["shuffle_read_mb"],
        "exec.spill_mb": jobs["spill_mb"],
        # share of the traced wall spent inside the layer calls made
        # directly by the iteration (the rest is benchmark/engine glue)
        "trace.coverage": top / wall,
    }


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(spark, manifest: dict, tracer, work: str) -> dict:
    """Single-layer timings and counts, from the last traced iteration's
    captured frames and the manifest's inputs."""
    m = dict.fromkeys(
        ("sources.scan_s", "sources.rows", "sinks.write_s", "sinks.mb",
         "sinks.files", "compiler.dedup_yield", "ops.dedup.signature_s",
         "ops.dedup.pairs_s", "ops.dedup.candidate_pairs", "ops.dedup.verify_s",
         "ops.dedup.verify_yield", "ops.dedup.canonical_s",
         "ops.dedup.dropped_docs"), 0.0)
    for scan in tracer.captured["sources"].values():
        df = scan()
        dt, _ = _timed(lambda: _noop(df))
        m["sources.scan_s"] += dt
        m["sources.rows"] += df.count()
    out = os.path.join(work, "probe")
    distinct = 0
    for i, (triples, kwargs) in enumerate(tracer.captured["triples"]):
        kept = triples.persist()
        distinct += kept.count()
        path = os.path.join(out, f"sink{i}.nt")
        dt, _ = _timed(lambda: sinks.write_ntriples(kept, path, **kwargs))
        kept.unpersist()
        parts = ([path] if os.path.isfile(path)
                 else glob.glob(os.path.join(path, "part-*")))
        m["sinks.write_s"] += dt
        m["sinks.files"] += len(parts)
        m["sinks.mb"] += sum(os.path.getsize(p) for p in parts) / 1e6
    if distinct:
        raw = sum(engine.materialize(spark, _read(p), base_dir=os.path.dirname(p),
                                     remove_duplicates=False).count()
                  for p in _mappings(manifest))
        m["compiler.dedup_yield"] = distinct / raw
    if manifest["workload"] == "near_dup":
        m.update(_dedup_probe(spark, manifest))
    shutil.rmtree(out, ignore_errors=True)
    return m


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def _mappings(manifest: dict) -> list[str]:
    if "mapping" in manifest:
        return [manifest["mapping"]]
    return [p for _, p in manifest["datasets"]]


def _dedup_probe(spark, manifest: dict) -> dict:
    p = workloads.NEAR_DUP
    docs = workloads.read_parquet(spark, manifest["documents"]).persist()
    docs.count()
    sig_s, _ = _timed(lambda: _noop(dedup.minhash_signatures(
        docs, num_hashes=p["num_hashes"], shingle_n=p["shingle_n"])))
    # exact_first checkpoints eagerly inside the call, so time the call too
    t0 = time.perf_counter()
    cand = dedup.minhash_lsh_pairs(docs, exact_first=True, **p).persist()
    n_cand = cand.count()
    pairs_s = time.perf_counter() - t0
    verify_s, n_ver = _timed(lambda: dedup.jaccard_verify_pairs(
        docs, cand, **workloads.VERIFY).count())
    canon_s, dropped = _timed(lambda: dedup.neardup_canonical_exact_first(
        docs, **p).where("NOT is_canonical").count())
    cand.unpersist()
    docs.unpersist()
    return {"ops.dedup.signature_s": sig_s, "ops.dedup.pairs_s": pairs_s,
            "ops.dedup.candidate_pairs": n_cand, "ops.dedup.verify_s": verify_s,
            "ops.dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "ops.dedup.canonical_s": canon_s, "ops.dedup.dropped_docs": dropped}
