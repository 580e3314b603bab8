"""One benchmark process: set up a pinned Spark session, then time
materializations of one workload in a closed loop.

Started by ``run.py`` as a fresh process per run, never imported by it.
Prints one ``KGBENCH {...}`` line on stdout with its raw samples;
``run.py`` turns those into metrics.

    python3 kgbench/worker.py --manifest M --work DIR --spawned-at T \
        --seconds S [--trace] [--corrupt]
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

CPUS = min(len(os.sched_getaffinity(0)), 4)
DRIVER_MEMORY = "2g"
# retained_mb is read after this many iterations (the cold one and two
# warm ones), so that it covers the same work in every run, however many
# iterations the run fits in
RETAINED_AFTER = 3
# bench.py's C1-only JIT flags
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g -XX:-UsePerfData"


def build_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("kgbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Spark-only warm-up, one small shuffle job. No engine call, so the
    engine's process-lifetime memos are still cold for the first timed
    iteration."""
    spark.range(0, 200_000, 1, CPUS).selectExpr("id % 97 AS k").groupBy("k") \
        .count().collect()


def retained_mb(spark) -> float:
    """Memory the engine keeps between materializations, read right
    after ``Runner.settle``: this process's resident set plus the JVM's
    heap still live after a full collection and its non-heap memory in
    use (metaspace, code cache). Not the peak resident set, which G1's
    timing-driven heap sizing makes swing by a third between runs of one
    workload (see README.md)."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # the collection in settle handed Spark's ContextCleaner the
    # broadcasts and shuffles the last iterations dropped, and its thread
    # releases their blocks one by one: collect again until two rounds in
    # a row free less than a megabyte
    heap, still = mem.getHeapMemoryUsage().getUsed(), 0
    for _ in range(12):
        time.sleep(0.3)
        jvm.System.gc()
        heap, before = mem.getHeapMemoryUsage().getUsed(), heap
        still = still + 1 if before - heap < 2**20 else 0
        if still == 2:
            break
    with open("/proc/self/status") as f:
        rss_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
    return rss_kb / 1024 + (heap + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


class CheckerProcess:
    """The oracle check (``checker.py``) in a child process, one per run:
    DuckDB and the output lines it reads stay out of this process, whose
    memory ``retained_mb`` counts."""

    def __init__(self, manifest: dict):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "checker.py"),
             "--manifest", os.path.join(manifest["dir"], "manifest.json")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        # it has loaded the oracle before anything is timed
        if self.proc.stdout.readline().strip() != "ready":
            raise RuntimeError("the checker process did not start")

    def __call__(self, out: str) -> str | None:
        """None if the output in ``out`` equals the oracle, else why not."""
        self.proc.stdin.write(out + "\n")
        self.proc.stdin.flush()
        answer = self.proc.stdout.readline().strip()
        if not answer:
            raise RuntimeError("the checker process died")
        return None if answer == "ok" else answer

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def corrupt(out: str) -> None:
    """Self-test hook: damage one output file the way a wrong result
    would, by appending a triple the oracle does not hold."""
    files = sorted(p for p in glob.glob(os.path.join(out, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
                   and not p.endswith(".parquet"))
    if files:
        with open(files[0], "a") as f:
            f.write("<http://ex.org/corrupt> <http://ex.org/corrupt> <http://ex.org/corrupt> .\n")
        return
    import duckdb

    part = sorted(glob.glob(os.path.join(out, "*", "*.parquet")))[0]
    duckdb.sql(f"COPY (FROM read_parquet('{part}') OFFSET 1) TO '{part}.tmp' "
               "(FORMAT PARQUET)")
    os.replace(part + ".tmp", part)


class Runner:
    def __init__(self, spark, manifest: dict, work: str, corrupt_outputs: bool):
        import workloads

        self.spark = spark
        self.wl = workloads.WORKLOADS[manifest["workload"]](spark, manifest)
        self.check = CheckerProcess(manifest)
        self.out_root = os.path.join(work, "out")
        self.corrupt = corrupt_outputs
        self.n = 0
        self.group = ""
        self.attempted = 0
        self.failed = 0
        self.conf_drift = 0
        self.retained_mb = None

    def settle(self) -> None:
        """Untimed, before the first iteration and after each one: let
        Spark's listeners catch up and collect garbage in both processes
        (Python first, so that no proxy it no longer holds keeps a JVM
        object alive). Every iteration then starts from the same
        collected heap, and none is charged for the garbage of the one
        before."""
        gc.collect()
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc._jvm.System.gc()

    def iterate(self, tracer=None) -> float | None:
        """One timed materialization, then its untimed oracle check.
        Returns the wall time, or None if it raised or was wrong."""
        self.n += 1
        self.attempted += 1
        out = os.path.join(self.out_root, f"it{self.n}")
        self.group = f"kgbench-{self.n}"
        self.spark.sparkContext.setJobGroup(self.group, self.group)
        conf0 = self.spark.conf.getAll
        wall = None
        try:
            if tracer:
                tracer.begin(self.group)
            span = tracer.span("iteration") if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            with span:
                self.wl.run(out)
            wall = time.perf_counter() - t0
            if self.corrupt:
                corrupt(out)
            why = self.check(out)
        except Exception:
            traceback.print_exc()
            why = "raised"
        conf1 = self.spark.conf.getAll
        self.conf_drift = max(self.conf_drift, sum(
            conf0.get(k) != conf1.get(k) for k in set(conf0) | set(conf1)))
        shutil.rmtree(out, ignore_errors=True)
        self.settle()
        if self.n == RETAINED_AFTER:
            self.retained_mb = retained_mb(self.spark)
        if why:
            print(f"kgbench: iteration {self.n} failed: {why}", file=sys.stderr)
            self.failed += 1
            return None
        return wall

    def loop(self, seconds: float, tracer=None, after=None) -> list[float]:
        """Iterate for ``seconds``; then on to three iterations while the
        loop is under twice ``seconds``, and to two in any case (so a run
        of slow iterations still fits its deadline). ``after`` runs after
        each successful iteration."""
        walls, start = [], time.perf_counter()
        while True:
            elapsed = time.perf_counter() - start
            if not (elapsed < seconds or len(walls) < 2
                    or (len(walls) < 3 and elapsed < 2 * seconds)):
                break
            w = self.iterate(tracer)
            if w is not None:
                walls.append(w)
                if after:
                    after()
            elif self.failed > 3 and not walls:
                break
        return walls


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans", help="where a traced run dumps its spans")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    with open(args.manifest) as f:
        manifest = json.load(f)

    import sdm_rdfizer_spark  # noqa: F401  (import is part of set-up)

    spark = build_session(args.work)
    t_session = time.monotonic()
    warm_up(spark)
    t_ready = time.monotonic()
    res = {"setup_s": t_ready - args.spawned_at,
           "session_s": t_session - args.spawned_at,
           "warmup_s": t_ready - t_session}
    try:
        res.update(measure(spark, manifest, args))
        if not args.trace:
            import workloads

            res["input_records"] = workloads.input_records(spark, manifest)
    finally:
        spark.stop()
    print("KGBENCH " + json.dumps(res), flush=True)
    return 0


def measure(spark, manifest: dict, args) -> dict:
    runner = Runner(spark, manifest, args.work, args.corrupt)
    try:
        return _measure(spark, manifest, args, runner)
    finally:
        runner.check.close()


def _measure(spark, manifest: dict, args, runner) -> dict:
    runner.settle()
    cold = runner.iterate()
    if not args.trace:
        warm = runner.loop(args.seconds)
        return {"cold": cold, "warm": warm, "attempted": runner.attempted,
                "failed": runner.failed, "retained_mb": runner.retained_mb}
    import probes
    from spans import Tracer

    warm = runner.loop(args.seconds / 2)
    tracer = Tracer(spark)
    per_iter = []
    tracer.install()
    try:
        traced = runner.loop(args.seconds / 2, tracer, after=lambda: per_iter.append(
            probes.iteration_metrics(spark, tracer.iteration_spans(), runner.group)))
    finally:
        tracer.uninstall()
    layer = {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]} \
        if per_iter else {}
    layer.update(probes.probe(spark, manifest, tracer, args.work))
    layer["engine.conf_drift"] = runner.conf_drift
    if warm and traced:
        layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(warm)
    tracer.dump(args.spans)
    return {"cold": cold, "warm": warm, "traced": traced, "layer": layer,
            "attempted": runner.attempted, "failed": runner.failed}


if __name__ == "__main__":
    sys.exit(main())
