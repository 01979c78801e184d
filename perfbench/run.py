"""Closed-loop benchmark of the χ² engine.

    python3 perfbench/run.py --workload chi2_topterms --seed 1 --seconds 10 --trace 0

Workloads: chi2_topterms and curate_corpus (listed in BENCHMARK.json),
and graph_fixpoint, whose runs are too long for the benchmark's time
budget and which is run by hand.

One client (one driver thread) runs passes back to back in one
local[N] SparkSession, N = min(4, cores available). Each pass calls the
program's public functions on generated parquet files and keeps the
result; every pass is checked against an independent answer computed
once after the measured window.

--trace 0 reports the end-to-end metrics. --trace 1 alternates untraced
and traced passes and reports the per-layer metrics (layers.py), plus
the tracing overhead. The last stdout line is one JSON object; the line
before it ("info") holds the pass count, N, the warm-up times and the
per-call breakdown. Inputs and Spark scratch live under
.perfbench_work/ at the repository root and are removed at exit; a
traced run leaves its record there as trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import proctree

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s.p50": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

# Warm-up before the measured window. The first pass of a fresh JVM
# pays class loading, code generation and interpreted execution (3-8x
# a steady pass), so it runs on tiny inputs, where it costs less; then
# this many full passes let the JIT settle. The info line's drift_frac
# (second half of the window against the first) shows what drift is
# left.
WARMUP_PASSES = {"chi2_topterms": 2, "graph_fixpoint": 2, "curate_corpus": 2}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument(
        "--plant-wrong",
        action="store_true",
        help="replace the expected answer with a wrong one (self-test of the check)",
    )
    return p.parse_args(argv)


def spark_env(work: Path, cores: int, trace: bool) -> None:
    """Keep the JVM, Spark scratch and temp files inside `work`. The
    driver heap is fixed at 1 GB from the start (-Xms = -Xmx), so the
    resident memory does not depend on when the JVM chose to grow it,
    and no JVM writes its perf-data file to /tmp. A traced run keeps
    every job and stage in the status store: a graph pass runs more
    than the default 1000 stages, and the recorder reads them after
    the pass."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    retain = (
        "--conf spark.ui.retainedJobs=1000000 --conf spark.ui.retainedStages=1000000 "
        if trace else ""
    )
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.ui.showConsoleProgress=false {retain}--driver-java-options "
            f"'-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
    )


def untraced_pass(w) -> tuple[float, float, str | None]:
    """(wall s, process-tree CPU s, output digest or None on error)."""
    from workloads import digest

    c0 = proctree.cpu_seconds()
    t0 = time.perf_counter()
    try:
        d = digest(w.run_pass())
    except Exception:  # a failed pass is counted, not fatal
        traceback.print_exc()
        d = None
    return time.perf_counter() - t0, proctree.cpu_seconds() - c0, d


def traced_pass(w, rec, probe_dir: Path) -> str | None:
    """One pass with every call split into layers, then the probes that
    are not part of the pass (exec, sink and scan)."""
    from workloads import digest

    from mapreduce_chisquare_spark.sources.sinks import write_parquet

    calls = w.calls()
    rec.begin_pass()
    dfs, results = {}, []
    t0 = time.perf_counter()
    try:
        for call in calls:
            if call.sink_of:
                rec.sink(call.name, call.build, call.sink_of, call.out_path)
                results.append(None)
                continue
            df = dfs[call.name] = rec.build(call.name, call.build)
            if call.collect:
                rec.optimize(call.name, df)
                results.append(rec.collect(call.name, df, call.collect))
            else:
                results.append(None)
        d = digest(w.output(results))
    except Exception:
        traceback.print_exc()
        rec.clear_group()
        return None
    rec.end_pass(time.perf_counter() - t0)
    for call in calls:
        if call.name in dfs and not call.collect:
            rec.optimize(call.name, dfs[call.name])
    for name, df in dfs.items():
        rec.exec_probe(name, df)
    if not any(c.sink_of for c in calls):
        first = calls[0].name
        out = str(probe_dir / "sink.parquet")
        rec.sink(first, lambda: write_parquet(dfs[first], out), first, out)
        rec.clear_group()
    for table in w.input_tables:
        rec.scan_probe(table, w.scan(table), f"{w.root}/{table}.parquet")
    rec.close_pass()
    return d


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def measure(args, spark, w, cores: int, t_proc0: float, start_s: float, work: Path):
    from workloads import WORKLOADS

    tiny = WORKLOADS[args.workload](spark, str(work / "tiny"), args.seed, "tiny", cores)
    tiny.generate()
    warm = [untraced_pass(tiny)[0]]
    warm += [untraced_pass(w)[0] for _ in range(WARMUP_PASSES[args.workload])]
    setup_s = time.perf_counter() - t_proc0

    times, cpus, digests = [], [], []
    rec = None
    if args.trace:
        from layers import Recorder

        rec = Recorder(spark, cores)
    steal0 = proctree.host_ticks()
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end:
        wall, cpu, d = untraced_pass(w)
        times.append(wall)
        cpus.append(cpu)
        digests.append(d)
        if rec is not None:
            digests.append(traced_pass(w, rec, work))
    rss = proctree.peak_rss_mb()
    steal1 = proctree.host_ticks()

    t = time.perf_counter()
    expected = w.expected()
    if args.plant_wrong:
        expected = ["planted wrong answer"]
    from workloads import digest

    want = digest(expected)
    ok = sum(d == want for d in digests)
    p50 = statistics.median(times)
    half = len(times) // 2
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "nproc": len(os.sched_getaffinity(0)),
        "input_rows": w.rows,
        "passes": len(times),
        "pass_s": [round(x, 4) for x in times],
        "warmup_pass_s": [round(x, 4) for x in warm],
        "drift_frac": (
            statistics.median(times[half:]) / statistics.median(times[:half]) - 1.0
            if half else 0.0
        ),
        "expected_s": time.perf_counter() - t,
        "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    if rec is None:
        values = {
            "setup_s": setup_s,
            "pass_s.p50": p50,
            "rows_per_s": w.rows / p50,
            "cpu_s_per_pass": statistics.median(cpus),
            "peak_rss_mb": rss,
            "ok_frac": ok / len(digests),
        }
        units = E2E_UNITS
    else:
        from layers import PER_LAYER_UNITS

        values, per_call = rec.summary(start_s, times)
        units = PER_LAYER_UNITS
        info["traced_passes"] = len(rec.pass_s)
        info["per_call"] = per_call
        (WORK / f"trace-{args.workload}-{args.seed}.json").write_text(
            json.dumps({"info": info, "per_layer": values}, indent=1, sort_keys=True)
        )
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    result = {
        "correct": ok == len(digests),
        "attempted": len(digests),
        "failed": len(digests) - ok,
        "metrics": metrics,
    }
    return info, result


def main(argv: list[str]) -> int:
    t_proc0 = time.perf_counter() - proctree.start_age_s()
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, fresh_dir

    from mapreduce_chisquare_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = min(4, len(os.sched_getaffinity(0)))
    work = Path(fresh_dir(str(WORK / f"{args.workload}-{args.seed}-{os.getpid()}")))
    spark_env(work, cores, bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
        w = WORKLOADS[args.workload](spark, str(work / "input"), args.seed, args.scale, 2 * cores)
        w.generate()
        info, result = measure(args, spark, w, cores, t_proc0, start_s, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
