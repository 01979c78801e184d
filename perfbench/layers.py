"""Per-layer recorder for traced passes.

Every public call of a traced pass runs under its own Spark job group,
and the call is split from outside the program into the layers below.
Stage metrics come from the status store of the SparkContext (it is
kept with the UI off). Records stay in memory until `summary()`.

  session    get_spark wall time
  operators  driver-side build inside the public call: its wall time,
             and the jobs it ran eagerly (checkpoints, counts)
  catalyst   optimizer and physical planning of the returned DataFrame
  exec       stages of the returned plan, run once more as a noop-sink
             write after the timed pass (so transfer is excluded)
  transfer   the client's collect, minus exec.run_s
  sinks      a parquet write, minus exec.run_s of the same plan
  sources    a noop-sink write of each bare input scan
"""

from __future__ import annotations

import os
import re
import statistics
import time
from collections import defaultdict

_EXCHANGE = re.compile(r"^[\s:+\-]*(Exchange|BroadcastExchange|ShuffleExchange)\b")

# per-call measures; summed over the calls of a pass for the layer totals.
# operators.<call>.build_task_s (task time of the build's eager jobs) is
# only in the per-call breakdown: it is exactly 0 for a build that runs
# no jobs, as chi_square_report's does.
_SUMMED = {
    "operators": ("build_s", "build_jobs"),
    "catalyst": ("optimize_s", "plan_s", "plan_chars", "exchanges"),
    "exec": (
        "run_s", "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    ),
    "transfer": ("collect_s", "rows_out"),
    "sinks": ("write_s", "output_mb"),
    "sources": ("scan_s", "scan_tasks", "input_mb"),
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **{
        f"{layer}.{m}": (
            "s" if m.endswith("_s") else "MB" if m.endswith("_mb")
            else "chars" if m == "plan_chars" else "count"
        )
        for layer, ms in _SUMMED.items()
        for m in ms
    },
    "exec.busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


class Recorder:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self._seq = 0
        self.passes: list[dict[str, float]] = []
        self.pass_s: list[float] = []
        self._cur: dict[str, float] = {}

    # -- job groups -----------------------------------------------------
    def group(self, tag: str) -> str:
        self._seq += 1
        gid = f"perfbench-{self._seq}-{tag}"
        self.sc.setJobGroup(gid, tag)
        return gid

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> dict[str, float]:
        """Job count, stage totals and the submit-to-complete span of
        the jobs of one group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = defaultdict(float)
        first, last = None, None
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = store.job(jid)
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                s, e = sub.get().getTime(), done.get().getTime()
                first = s if first is None else min(first, s)
                last = e if last is None else max(last, e)
            ids = jd.stageIds()
            for i in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        out["span_s"] = 0.0 if first is None else (last - first) / 1e3
        return out

    # -- one traced pass ------------------------------------------------
    def begin_pass(self) -> None:
        self._cur = defaultdict(float)
        self._builds: list[tuple[str, str]] = []
        self._plan_of: dict[str, str] = {}

    def put(self, call: str, layer: str, measure: str, value: float) -> None:
        self._cur[f"{layer}.{call}.{measure}"] += value

    def build(self, call: str, fn):
        gid = self.group(f"build:{call}")
        t = time.perf_counter()
        df = fn()
        self.put(call, "operators", "build_s", time.perf_counter() - t)
        self._builds.append((call, gid))
        return df

    def optimize(self, call: str, df) -> None:
        qe = df._jdf.queryExecution()
        t = time.perf_counter()
        optimized = qe.optimizedPlan()
        self.put(call, "catalyst", "optimize_s", time.perf_counter() - t)
        t = time.perf_counter()
        physical = qe.executedPlan()
        self.put(call, "catalyst", "plan_s", time.perf_counter() - t)
        self.put(call, "catalyst", "plan_chars", len(optimized.toString()))
        lines = physical.toString().splitlines()
        self.put(call, "catalyst", "exchanges", sum(bool(_EXCHANGE.match(x)) for x in lines))

    def collect(self, call: str, df, fn):
        # its own group keeps these jobs out of the build group's count
        self.group(f"collect:{call}")
        t = time.perf_counter()
        value = fn(df)
        self.put(call, "transfer", "collect_s", time.perf_counter() - t)
        self.put(call, "transfer", "rows_out", len(value))
        return value

    def sink(self, call: str, fn, plan: str, out_path: str) -> None:
        """Time a parquet write of the DataFrame returned by call `plan`."""
        self.group(f"sink:{call}")
        t = time.perf_counter()
        fn()
        self.put(call, "sinks", "write_s", time.perf_counter() - t)
        self.put(call, "sinks", "output_mb", dir_mb(out_path))
        self._plan_of[call] = plan

    def end_pass(self, pass_s: float) -> None:
        """Close the timed part of the pass; the probes follow."""
        self.clear_group()
        self.pass_s.append(pass_s)

    # -- probes after the timed pass --------------------------------------
    def exec_probe(self, call: str, df) -> None:
        """Run the returned plan to a noop sink: the exec layer without
        transfer. Subtracted from the call's collect and sink times."""
        gid = self.group(f"exec:{call}")
        df.write.format("noop").mode("overwrite").save()
        self.clear_group()
        st = self.jobs(gid)
        self.put(call, "exec", "run_s", st["span_s"])
        for m in _SUMMED["exec"][1:]:
            self.put(call, "exec", m, st[m])

    def scan_probe(self, table: str, df, path: str) -> None:
        """A noop write of one hash over every column, so that the scan
        decodes all of them. input_mb is the size of the table's files:
        the stage input-bytes counter stays near zero for local parquet
        reads."""
        from pyspark.sql import functions as F

        gid = self.group(f"scan:{table}")
        t = time.perf_counter()
        df.select(F.xxhash64(*df.columns)).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        self.clear_group()
        st = self.jobs(gid)
        self.put(table, "sources", "scan_s", wall)
        self.put(table, "sources", "scan_tasks", st["tasks"])
        self.put(table, "sources", "input_mb", dir_mb(path))

    def close_pass(self) -> None:
        """Fold the build-group job stats in, take exec.run_s out of the
        transfer and sink times, and keep the pass's record."""
        for call, gid in self._builds:
            st = self.jobs(gid)
            self.put(call, "operators", "build_jobs", st["jobs"])
            self.put(call, "operators", "build_task_s", st["task_s"])
        run_s = {k.split(".")[1]: v for k, v in self._cur.items() if k.endswith(".run_s")}
        for key in list(self._cur):
            layer, call, measure = key.split(".")
            if measure in ("collect_s", "write_s"):
                self._cur[key] -= run_s.get(self._plan_of.get(call, call), 0.0)
        self.passes.append(dict(self._cur))

    # -- results ------------------------------------------------------------
    def summary(self, start_s: float, untraced_pass_s: list[float]) -> tuple[dict, dict]:
        """(per-layer metrics, per-call breakdown): medians over the
        traced passes, layer totals summed over calls."""
        keys = sorted({k for p in self.passes for k in p})
        per_call = {k: statistics.median(p.get(k, 0.0) for p in self.passes) for k in keys}
        totals: dict[str, float] = {"session.start_s": start_s}
        for layer, measures in _SUMMED.items():
            for m in measures:
                totals[f"{layer}.{m}"] = sum(
                    v for k, v in per_call.items()
                    if k.startswith(layer + ".") and k.endswith("." + m)
                )
        run = totals["exec.run_s"]
        totals["exec.busy_frac"] = totals["exec.task_s"] / (run * self.cores) if run else 0.0
        totals["trace.overhead_frac"] = (
            statistics.median(self.pass_s) / statistics.median(untraced_pass_s) - 1.0
        )
        return totals, per_call


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6
