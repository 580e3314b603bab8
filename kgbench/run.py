"""kgbench: oracle-checked knowledge-graph materialization benchmark.

Run from the repository root:

    python3 kgbench/run.py --workload wide_fact --seed 1 --seconds 6 --trace 0

Closed loop, one client: one materialization at a time, each timed from
input files in to output fully on disk, each checked (untimed) against
a DuckDB oracle as an order-insensitive multiset of lines. Inputs are
generated from ``--seed`` under ``kgbench/.work`` and cached per seed.

Each run starts one fresh worker process on a pinned
``local[min(nproc,4)]`` session. It times its set-up (process start to
session up and warmed), the cold first iteration, and then warm
iterations for ``--seconds`` (at least three, or two where two already
take twice ``--seconds``). ``--trace 1`` instead splits the seconds
between untraced and traced iterations and reports the per-layer
metrics (see README.md for which end-to-end metric each should move);
its spans are written to ``kgbench/.work/spans/<workload>-<seed>.json``.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics untraced, per-layer metrics traced).
The table above it also shows failed_frac and the sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("wide_fact", "many_maps", "nested_sources", "near_dup")
KEEP_INPUTS = 8         # generated input sets kept in the cache
RUN_DEADLINE_S = 170    # a run must end within 180 s

END_TO_END = {"wall_s": "s", "cold_wall_s": "s", "triples_per_s": "triples/s",
              "docs_per_s": "docs/s", "setup_s": "s", "retained_mb": "MB"}


def fail(msg: str) -> int:
    print(f"kgbench: {msg}", file=sys.stderr)
    return 2


def run_worker(cmd: list[str], env: dict, timeout: float) -> dict | None:
    """Start one worker in its own process group, wait for it, and kill
    the whole group (its JVM included) if it outlives ``timeout``."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print("kgbench: worker timed out", file=sys.stderr)
        return None
    for line in reversed(out.splitlines()):
        if line.startswith("KGBENCH "):
            return json.loads(line[len("KGBENCH "):])
    print(f"kgbench: worker exited {proc.returncode} without a result",
          file=sys.stderr)
    return None


def evict_inputs(root: str, keep: int) -> None:
    if not os.path.isdir(root):
        return
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test hook: damage every output before its check")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "sdm_rdfizer_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        return fail("run from the repository root (sdm_rdfizer_spark/ and "
                    "__spark_entry__.py not found)")
    sys.path[:0] = [root, HERE]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything a run writes stays under kgbench/.work: temp files of
    # Python, Spark and both JVMs (spark-submit's launcher included)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               PYTHONDONTWRITEBYTECODE="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    try:
        import inputs

        inputs_root = os.path.join(WORK, "inputs")
        manifest = inputs.prepare(args.workload, args.seed, inputs_root, args.size)
        os.utime(manifest["dir"])       # in use: newest, never evicted
        evict_inputs(inputs_root, KEEP_INPUTS)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--manifest", os.path.join(manifest["dir"], "manifest.json"),
               "--work", os.path.join(run_dir, "worker"),
               "--seconds", str(args.seconds)]
        spans = os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json")
        cmd += ["--trace", "--spans", spans] if args.trace else []
        cmd += ["--corrupt"] if args.corrupt else []
        cmd += ["--spawned-at", repr(time.monotonic())]
        res = run_worker(cmd, env, RUN_DEADLINE_S - (time.monotonic() - t_start))
        if res is None:
            return fail("the worker failed; no result")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, manifest, res)
    return 0


def report(args, manifest: dict, res: dict) -> None:
    attempted, failed = res["attempted"], res["failed"]
    warm = res["warm"]
    if args.trace:
        import probes

        layer = dict(res["layer"])
        layer["setup.session_s"] = res["session_s"]
        layer["setup.warmup_s"] = res["warmup_s"]
        metrics = {k: {"value": float(layer.get(k) or 0.0), "unit": u}
                   for k, u in probes.PER_LAYER.items()}
        samples = f"{len(warm)} untraced, {len(res['traced'])} traced iterations"
    else:
        # a run whose iterations all failed has no timings: it reports 0
        # and correct=false
        wall = statistics.median(warm) if warm else 0.0
        values = {
            "wall_s": wall,
            "cold_wall_s": res["cold"] or 0.0,
            "triples_per_s": manifest["expected_lines"] / wall if wall else 0.0,
            "docs_per_s": res["input_records"] / wall if wall else 0.0,
            "setup_s": res["setup_s"],
            "retained_mb": res["retained_mb"] or 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        samples = (f"wall_s: median of {len(warm)} warm iterations; "
                   "cold_wall_s and setup_s: 1 sample")
    print(f"kgbench {args.workload} seed={args.seed} ({samples})")
    for k, v in metrics.items():
        print(f"  {k:28s} {v['value']:14.6g} {v['unit']}")
    print(f"  {'failed_frac':28s} {failed / max(attempted, 1):14.6g} ratio "
          f"({failed} of {attempted} iterations failed)")
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
