"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds a local[k] session with a
fixed heap, generates the workload's inputs from the seed, runs one
untimed pass that checks every output (DuckDB oracle or generator
ledger), warm-up passes, then closed-loop timed passes for S seconds.
The last stdout line is the result; the line before it records the
run's settings and, with --trace 1, the untraced end-to-end numbers.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
HEAP = "1g"
# C1-only JIT and the serial collector: background compile and GC
# threads otherwise add several CPU-seconds of run-to-run noise to a
# run this short (see README.md).
JVM_OPTIONS = f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
SCALING_PASSES = 1
FETCH_PROBES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["backfill", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cores() -> int:
    # one CPU stays free for the driver process, the archive server and
    # the JVM's own threads
    return min(3, len(os.sched_getaffinity(0)))


def prepare_env(k: int) -> None:
    """Pin parallelism and keep every scratch file inside WORK; must
    run before pyspark or the engine is imported."""
    for sub in ("tmp", "jtmp", "local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(k),
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_session(cores_: int):
    from gh_archive_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores_}]",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTIONS} -Djava.io.tmpdir={WORK / 'jtmp'}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, final: bool) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if final and gw is not None and getattr(gw, "proc", None) is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Runs passes and keeps the error ledger."""

    def __init__(self, wl, seed: int):
        self.wl = wl
        self.rng = random.Random(seed)  # drives per-pass operation order
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"[perfbench] FAILED {what}", file=sys.stderr, flush=True)

    def check_pass(self) -> None:
        from workloads import CheckFailed

        self.wl.clean()
        for name, fn in self.wl.check_ops():
            self.attempted += 1
            try:
                fn()
            except CheckFailed as exc:
                self._fail(f"check {exc}")
            except Exception:
                self._fail(f"check {name}: {traceback.format_exc()}")

    def timed_pass(self) -> dict[str, float]:
        from probes import tree_cpu_s

        ops = self.wl.ops(self.rng)
        self.wl.clean()
        times = {}
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        for name, fn in ops:
            self.attempted += 1
            try:
                times[name] = fn()
            except Exception:
                self._fail(f"{name}: {traceback.format_exc()}")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        return {"wall_s": wall, "cpu_s": cpu,
                "builder_s": sum(b for b, _ in times.values()),
                "action_s": sum(a for _, a in times.values()),
                "ops": {n: b + a for n, (b, a) in times.items()}}


def log(msg: str) -> None:
    from probes import process_age_s

    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def med(xs):
    return statistics.median(xs) if xs else 0.0


# metric names and units, in the order BENCHMARK.json lists them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def traced_pass(runner, spark, census, listener) -> dict[str, float]:
    """One pass with the stream listener on; every census is read
    after the pass clock stops."""
    from probes import jvm_gc_jit_s

    gc0, jit0 = jvm_gc_jit_s(spark)
    spark.streams.addListener(listener)
    try:
        p = runner.timed_pass()
        jobs = census.take()
        streams = listener.take()  # waits for the last progress events
    finally:
        spark.streams.removeListener(listener)
    gc1, jit1 = jvm_gc_jit_s(spark)
    out = {"wall_s": p["wall_s"], "plans.builder_s": p["builder_s"],
           "plans.action_s": p["action_s"],
           "jvm.gc_s": gc1 - gc0, "jvm.jit_s": jit1 - jit0}
    out.update({f"plans.{k}": v for k, v in jobs.items()})
    out.update({f"streaming.{k}": v for k, v in streams.items()})
    out.update(runner.wl.after_pass())
    return out


def fetch_parse_s(wl) -> float:
    """backfill(...) into noop: fetch + gunzip + parse without the sink."""
    times = []
    for _ in range(FETCH_PROBES):
        t0 = time.perf_counter()
        wl.fetch().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return med(times)


def trace_layers(runner, spark, traced, untraced_wall, args):
    """Per-layer medians over the traced passes, plus the fetch probe
    (backfill) and the local[1] scaling passes; returns the metrics and
    the session now in use."""
    layer = dict.fromkeys(PER_LAYER, 0.0)
    for n in layer.keys() & {n for p in traced for n in p}:
        layer[n] = med([p.get(n, 0.0) for p in traced])
    layer["trace.overhead_s"] = med([p["wall_s"] for p in traced]) - untraced_wall
    wl = runner.wl
    if args.workload == "backfill":
        layer["sources.fetch_parse_s"] = fetch_parse_s(wl)
    wl.clean()
    stop_session(spark, final=False)
    spark = wl.spark = start_session(1)
    scaling = [runner.timed_pass() for _ in range(SCALING_PASSES + 1)]
    layer["scaling.speedup"] = (
        med([p["wall_s"] for p in scaling[1:]]) / untraced_wall)
    return {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}, spark


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gh_archive_clickhouse_spark").is_dir():
        print("perfbench: engine package gh_archive_clickhouse_spark not "
              f"found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    k = cores()
    prepare_env(k)
    from probes import (JobCensus, StreamPhases, descendants, host_steal_s,
                        process_age_s, stop_all, tree_peak_rss_mb)
    from workloads import WORKLOADS

    spark = start_session(k)
    wl = None
    try:
        census = JobCensus(spark.sparkContext) if args.trace else None
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, k)
        log("session up")
        wl.setup()
        runner = Runner(wl, args.seed)
        log("inputs ready")
        runner.check_pass()
        log("check pass done")
        for _ in range(wl.warmup_passes):
            log(f"warm-up pass {runner.timed_pass()['wall_s']:.3f}s")
        setup_s = process_age_s()
        if census:
            census.take()

        # closed loop, one client; with --trace 1 untraced and traced
        # passes alternate so drift hits both alike
        untraced, traced = [], []
        listener = StreamPhases() if args.trace else None
        steal0 = host_steal_s()
        min_passes = 2 if args.trace else 3
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(untraced) < min_passes:
            untraced.append(runner.timed_pass())
            if args.trace:
                census.take()
                traced.append(traced_pass(runner, spark, census, listener))
        steal = host_steal_s() - steal0
        metrics = {
            "wall_s": {"value": med([p["wall_s"] for p in untraced]), "unit": "s"},
            "cpu_s": {"value": med([p["cpu_s"] for p in untraced]), "unit": "s"},
            "peak_rss_mb": {"value": tree_peak_rss_mb(), "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        ops = {}
        for p in untraced:
            for name, t in p["ops"].items():
                ops.setdefault(name, []).append(t)
        context = {"workload": args.workload, "seed": args.seed, "k": k,
                   "heap": HEAP, "jvm_options": JVM_OPTIONS,
                   "trace": args.trace, "passes": len(untraced),
                   "pass_wall_s": [round(p["wall_s"], 4) for p in untraced],
                   "op_median_s": {n: round(med(t), 4) for n, t in ops.items()},
                   "host_steal_s": round(steal, 2),
                   "error_rate": runner.failed / max(runner.attempted, 1),
                   "errors": [e.splitlines()[0] for e in runner.errors]}
        if args.trace:
            context["end_to_end"] = metrics
            metrics, spark = trace_layers(runner, spark, traced,
                                          metrics["wall_s"]["value"], args)
        print(json.dumps({"run": context}))
        wl.clean()
    finally:
        if wl is not None:
            wl.close()
        started = descendants()
        stop_session(spark, final=True)
        stop_all(started)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
