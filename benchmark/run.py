"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload mr_corpus --seed 1 --seconds 6 --trace 0

One driver process on ``local[nproc]`` runs passes back to back (a
closed loop). The run is:

1. set-up: ``get_spark``, ``warm_python_worker_pool``, then the seeded
   inputs and expected results, built ``SETUP_REPS`` times;
2. one cold pass, which for the query workloads also compares each
   full result with its DuckDB oracle;
3. warm-up passes until pass time stops falling;
4. measured passes for ``--seconds`` (at least ``MIN_PASSES``), with
   host canary readings taken between the steps of each pass.

Every pass is checked; a pass that raises counts as failed and the run
goes on. With ``--trace 1`` every other measured pass is traced and
the metrics are the per-layer ones of BENCHMARK.json, plus the tracing
overhead. A detailed run record is printed first; the last line of
stdout is the result object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
from statistics import median
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_PASSES = 2
# Warm-up lasts at least this share of --seconds, then ends at the
# first pass that does not beat the best earlier one by WARMUP_GAIN,
# and at the latest after --seconds.
WARMUP_MIN_SHARE = 2 / 3
WARMUP_GAIN = 0.05
# Least pass time between two canary readings inside a measured pass.
CANARY_EVERY_S = 2.0


def _tail(xs) -> tuple[int, float] | None:
    """(p, p-th percentile) for the highest whole p that leaves at
    least ten samples above it and is not below the median; None
    when the sample is too small for such a percentile."""
    n = len(xs)
    p = math.floor(100 * (1 - 10 / n)) if n else 0
    if p < 50:
        return None
    return p, sorted(xs)[min(n - 1, math.ceil(p / 100 * n) - 1)]


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``, and make
    the package importable in Spark's Python workers (they start from
    PYTHONPATH, not from this process's sys.path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO)


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM (it exits when its stdin closes)
    and wait until it and every Python worker it started have ended."""
    import probe
    from pyspark import SparkContext

    left = probe.descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
        probe.wait_gone(left)
        if gw is not None:
            gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class Runner:
    """Runs and checks passes of one workload, counting failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.ok = 0
        self.output_mb: list[float] = []

    def one_pass(self, tracer=None, check_now: bool = True, canary=None) -> float:
        """Run one pass; return its wall time. Failures are counted.

        With ``canary``, the host canary is also read before the first
        step, before each later step once ``CANARY_EVERY_S`` of steps
        have run since the last reading, and after the last step. The
        returned wall time then leaves out the readings, and
        ``self.norm`` is the pass in canary units: the wall time of each
        stretch of steps over the mean of the readings around it."""
        self.attempted += 1
        total, stretch, norm, readings = 0.0, 0.0, 0.0, []
        self.step_s = []

        def read():
            nonlocal stretch, norm
            readings.append(canary.time())
            if len(readings) > 1:
                norm += stretch / ((readings[-2] + readings[-1]) / 2)
                stretch = 0.0

        failed = False
        try:
            for step in self.wl.steps(tracer):
                if canary is not None and (not readings or stretch >= CANARY_EVERY_S):
                    read()
                t0 = time.perf_counter()
                try:
                    step()
                finally:
                    dt = time.perf_counter() - t0
                    self.step_s.append(dt)
                    total += dt
                    stretch += dt
        except Exception:
            traceback.print_exc()
            failed = True
        if canary is not None:
            read()
            self.readings, self.norm = readings, norm
        self._failed = failed
        if check_now:
            self.finish_check()
        return total

    def finish_check(self) -> None:
        if not self._failed and self.wl.check():
            self.ok += 1
        self.output_mb.append(self.wl.discard_outputs())


def run(args) -> dict:
    import probe
    from workloads import WORKLOADS, Tracer, exec_metrics

    from mit6_5840_6_824_lab1_mapreduce_spark.session import (
        get_spark,
        warm_python_worker_pool,
    )

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t_start = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    steal0, ticks0 = probe.cpu_ticks()
    canary = probe.Canary(nproc)
    spark = None
    try:
        # Canary readings between the set-up phases (not timed in them).
        sc = [canary.time()]
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"bench-{args.workload}",
            master=f"local[{nproc}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        sc.append(canary.time())
        t0 = time.perf_counter()
        warm_python_worker_pool(spark)
        warm_pool_s = time.perf_counter() - t0
        sc.append(canary.time())

        wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.size)
        input_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            input_mb = wl.make_inputs(os.path.join(args.work, "inputs"))
            input_s.append(time.perf_counter() - t0)
        sc.append(canary.time())
        setup_raw_s = get_spark_s + warm_pool_s + median(input_s)
        # Each phase over the mean of the readings around it, in seconds
        # on a host whose canary reads CANARY_REF_S.
        setup_s = probe.CANARY_REF_S * sum(
            t / ((a + b) / 2)
            for t, a, b in zip((get_spark_s, warm_pool_s, median(input_s)), sc, sc[1:])
        )

        r = Runner(wl)
        cold_s = r.one_pass()

        warm, best, t_warm = [], math.inf, time.perf_counter()
        while True:
            dt = r.one_pass()
            warm.append(dt)
            spent = time.perf_counter() - t_warm
            if spent >= args.seconds or (
                spent >= WARMUP_MIN_SHARE * args.seconds
                and len(warm) >= 2
                and dt > best * (1 - WARMUP_GAIN)
            ):
                break
            best = min(best, dt)

        walls, norms, step_s, canaries, traced, layer_rows = [], [], [], [], [], []
        t_meas = time.perf_counter()
        i = 0
        while (time.perf_counter() - t_meas < args.seconds or i < MIN_PASSES) and i < 10_000:
            i += 1
            if args.trace and i % 2 == 0:
                tracer = Tracer(spark, r.attempted)
                cpu0 = probe.tree_cpu_s(os.getpid())
                lo = time.time() * 1000.0
                dt = r.one_pass(tracer, check_now=False)
                hi = time.time() * 1000.0
                cpu1 = probe.tree_cpu_s(os.getpid())
                r.finish_check()
                if r._failed:
                    # A pass that raised has no complete spans or stages.
                    continue
                for rec in tracer.calls:
                    rec["stages"], rec["jobs"] = probe.stage_records(spark, rec["group"])
                row = exec_metrics(tracer.calls, lo, hi, nproc)
                row.update(wl.layer_metrics(tracer.calls, nproc))
                row["host.tree_cpu_s_per_pass"] = cpu1 - cpu0
                layer_rows.append(row)
                traced.append(dt)
            else:
                walls.append(r.one_pass(canary=canary))
                norms.append(r.norm)
                step_s.append(r.step_s)
                canaries.extend(r.readings)

        probes = wl.probe_layers() if args.trace else {}
    finally:
        canary.close()
        _stop_spark(spark)
    steal1, ticks1 = probe.cpu_ticks()
    run_s = time.perf_counter() - t_start

    tail = _tail(walls)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "host": probe.host_context(REPO, nproc),
        "canary_s_p50": median(canaries),
        "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "input_mb": input_mb,
        "setup": {"raw_s": setup_raw_s, "get_spark_s": get_spark_s, "warm_pool_s": warm_pool_s,
                  "inputs_s": input_s, "canary_s": sc},
        "cold_pass_s": cold_s,
        "warmup_pass_s": warm,
        "pass_s": walls,
        "pass_norm": norms,
        "pass_steps_s": step_s,
        "canary_s": canaries,
        "traced_pass_s": traced,
        "pass_s_tail": (
            {"percentile": tail[0], "value": tail[1], "samples": len(walls)} if tail
            else {"percentile": None, "value": None, "samples": len(walls),
                  "why": "fewer than 20 warm passes: no percentile at or above"
                         " the median has ten samples beyond it"}
        ),
        "attempted": r.attempted,
        "ok": r.ok,
        "run_s": run_s,
    }
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold_s,
        "pass_s_p50": median(walls),
        "pass_norm_p50": median(norms),
        "cold_pass_norm": cold_s / median(canaries),
        "mb_per_s": input_mb * len(walls) / sum(walls),
        "ok_frac": r.ok / r.attempted,
    }
    record["end_to_end"] = e2e
    if args.trace:
        names = {k for row in layer_rows for k in row}
        layers = {k: median(row.get(k, 0.0) for row in layer_rows) for k in names}
        layers.update(probes)
        layers["session.get_spark_s"] = get_spark_s
        layers["session.warm_pool_s"] = warm_pool_s
        layers["host.canary_s"] = record["canary_s_p50"]
        layers["host.steal_frac"] = record["steal_frac"]
        layers["sink.output_mb"] = median(r.output_mb)
        if traced:
            layers["trace.overhead_s"] = median(traced) - median(walls)
        record["per_layer"] = layers
        # A layer this workload does not drive did no work: report 0.
        chosen = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    record["result"] = {
        "correct": r.ok == r.attempted,
        "attempted": r.attempted,
        "failed": r.attempted - r.ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["mr_corpus", "df_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["standard", "tiny"], default="standard",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)
    args.work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(args.work)
    try:
        record = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))
        except OSError:  # another run's files are still there
            pass
    print(json.dumps({"record": record}))
    print(json.dumps(record["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
