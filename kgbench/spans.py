"""Spans and counters for the traced run, recorded from outside the engine.

Nothing in ``sdm_rdfizer_spark`` is instrumented. ``Tracer.install``
wraps the public functions each layer exposes, at the names their
callers look up, and the py4j client, for the duration of a traced run;
``uninstall`` restores them. Spans (name, start, end, parent, run id)
stay in memory until ``dump``. Spark-side work is attributed through a
job group per iteration and the status store.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

from sdm_rdfizer_spark import engine, rml_parser, sinks, sources
from sdm_rdfizer_spark.compiler import plan
from sdm_rdfizer_spark.ops import dedup

import workloads


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.run_id = ""        # set per iteration: spans of one share it
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.calls = 0          # py4j call commands sent
        self.captured: dict[str, list] = {}
        self._first = 0
        self._ids = itertools.count()
        self._undo: list = []

    def begin(self, run_id: str) -> None:
        """Start a new iteration: its spans share ``run_id``, and the
        frames it captures replace the previous iteration's."""
        self.run_id = run_id
        # "sources": one zero-argument function per logical source the
        # iteration read, returning a fresh frame of that scan alone
        self.captured = {"sources": {}, "triples": []}
        self._first = len(self.spans)

    def iteration_spans(self) -> list[dict]:
        return self.spans[self._first:]

    # --- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        s = {"id": next(self._ids), "name": name, "run": self.run_id,
             "parent": self.stack[-1]["id"] if self.stack else None,
             "t0": time.perf_counter(), "epoch0": time.time(),
             "calls0": self.calls}
        self.stack.append(s)
        try:
            yield s
        finally:
            self.stack.pop()
            s["t1"] = time.perf_counter()
            s["epoch1"] = time.time()
            s["calls1"] = self.calls
            self.spans.append(s)

    def _wrap(self, owner, attr: str, name: str, on_call=None,
              on_return=None) -> None:
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                if on_call:
                    on_call(*args, **kwargs)
                out = orig(*args, **kwargs)
                if on_return:
                    on_return(s, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap each layer's public entry at the name its caller uses."""
        self._wrap(engine, "parse_turtle", "turtle.parse")
        self._wrap(rml_parser, "extract_triples_maps", "rml_parser.extract",
                   on_return=self._logical_sources)
        self._wrap(plan.MappingPlanner, "compile_all", "compiler.build")
        # the compiler reads CSV, parquet and XML sources through
        # read_source, and JSON sources through json_base (the parsed
        # document, parsed once per compile) and apply_json_iterator
        self._wrap(plan, "read_source", "sources.read_source")
        self._wrap(sources, "json_base", "sources.json_base")
        self._wrap(sources, "apply_json_iterator", "sources.json_iterator")
        for owner in (engine, sinks):   # semantify's name, and the module's
            self._wrap(owner, "write_ntriples", "sinks.write_ntriples",
                       on_call=lambda triples, path, **kw: self._sink(triples, kw))
        # near_dup: the benchmark calls these itself, through module names
        self._wrap(workloads, "read_parquet", "sources.read_parquet",
                   on_return=lambda s, df: self.captured["sources"].setdefault(
                       ("read_parquet", id(df)), lambda: df))
        # the frames near_dup builds before writing (its eager jobs are
        # the build jobs of this plan)
        self._wrap(workloads.NearDup, "frames", "compiler.build")
        self._wrap(dedup, "neardup_canonical_exact_first", "ops.dedup.canonical")
        self._wrap(dedup, "minhash_lsh_pairs", "ops.dedup.pairs")
        self._wrap(dedup, "jaccard_verify_pairs", "ops.dedup.verify")
        self._wrap(workloads, "write_parquet", "exec.write_parquet",
                   on_call=lambda df, path: self.catalyst(df))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(command, *args, **kwargs):
            # call commands only: py4j's GC detach ("m\nd\n...") messages
            # depend on when Python collects proxies, not on the engine
            if command.startswith("c\n"):
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def _logical_sources(self, span: dict, tms) -> None:
        """Keep each distinct logical source of the extracted
        TriplesMaps, to be scanned alone by ``sources.read_source``."""
        span["n"] = len(tms)
        for tm in tms:
            ls = tm.source
            self.captured["sources"].setdefault(
                ls.cache_key(), lambda ls=ls: sources.read_source(self.spark, ls))

    def _sink(self, triples, kwargs: dict) -> None:
        self.captured["triples"].append((triples, kwargs))
        self.catalyst(triples)

    # --- Catalyst -----------------------------------------------------------
    def catalyst(self, df) -> None:
        """Run analysis, optimization and planning of ``df`` now, in a
        span of its own, and keep the phase times Spark's tracker
        recorded. The write that follows plans its command again; that
        repeat is part of the tracing overhead."""
        with self.span("catalyst") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000
        s["phases"] = phases
        s["plan_nodes"] = len(qe.optimizedPlan().toString().splitlines())

    # --- reporting ------------------------------------------------------------
    def dump(self, path: str) -> None:
        """Write every span with its self time: its duration minus the
        part its children cover (children never overlap: calls are
        synchronous)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        for s in self.spans:
            s["self_s"] = s["t1"] - s["t0"] - child.get(s["id"], 0.0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_jobs(spark, group: str) -> dict:
    """Jobs, stages and task metrics of ``group`` from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_tasks = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    jobs, stages = [], set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        jobs.append((sub.get().getTime() / 1000 if sub.isDefined() else None,
                     comp.get().getTime() / 1000 if comp.isDefined() else None))
        info = sc.statusTracker().getJobInfo(jid)
        stages.update(info.stageIds if info else [])
    tot = dict.fromkeys(("tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                         "shuffle_read_mb", "spill_mb"), 0.0)
    n_stages = 0
    for sid in stages:
        attempts = store.stageData(sid, False, no_tasks, False, no_q)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.numCompleteTasks() == 0:
                continue   # skipped stage: its shuffle output was reused
            n_stages += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["task_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            tot["spill_mb"] += st.diskBytesSpilled() / 1e6
    tot.update(jobs=len(jobs), stages=n_stages, run_s=_union(jobs), job_times=jobs)
    return tot


def _union(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if None not in i):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
