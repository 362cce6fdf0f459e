"""One benchmark run in a fresh interpreter.

``run.py`` starts this script with the engine on ``PYTHONPATH`` and the
fixture tables in ``--data``. It sets the engine up, computes every
key's DuckDB reference, measures the workload for ``--seconds``, and
writes the result as one JSON object to ``--out``.

Set-up (``setup_s``) counts from the moment ``run.py`` started this
interpreter until the registry is loaded, the session is up and every
key of the mix has run once untimed; the DuckDB reference computation
is subtracted.

An execution is timed from the ``QueryDef.build`` call until
``toPandas()`` has returned the last row. Its canonical rows are then
compared with the reference, outside the timed region.

With ``--trace 1`` the passes alternate between traced and untraced.
A traced execution records spans around ``build()``, planning (forcing
the physical plan) and the action, and tags the two phases with job
groups so that ``SparkContext.statusTracker()`` can attribute jobs,
stages and tasks to them. Jobs a build launches outside its group
(availableNow streams run in their own group) are caught by job id:
every new job that is not in the action's group belongs to the build.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass

import proc
from workloads import WORKLOADS

# On a slow host the measured passes stop early, once --seconds have been
# measured and this long has passed since the worker started, so that
# 48 runs (a comparison of two commits) stay within an hour.
RUN_CAP_S = 62.0
# Job status values of a job that can still change.
_LIVE = ("RUNNING", "UNKNOWN")


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes, best of three. The VM's own
    load average does not show a busy host; this does. On a shared 4-vCPU
    VM such a loop ran up to twice as long in slow phases of the host,
    which lasted from seconds to minutes, with nothing else running in
    the VM."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n = 0
        for i in range(500_000):
            n += i
        best = min(best, time.perf_counter() - t0)
    return best


def error_text(exc: BaseException) -> str:
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


class Bench:
    """Runs registry keys against one session and checks every result."""

    def __init__(self, spark, reg, data: str):
        from etl_cnc_spark import oracle

        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.reg = reg
        self.data = data
        self.oracle = oracle
        self.refs: dict[str, tuple] = {}
        self.next_job = 0
        self.n_traced = 0

    def canon(self, pdf) -> tuple:
        return sorted(pdf.columns), self.oracle.canonical_rows(pdf)

    def reference(self, key: str) -> float:
        """Compute ``key``'s DuckDB reference; returns the seconds spent."""
        t0 = time.perf_counter()
        self.refs[key] = self.canon(self.oracle.run_oracle(self.reg[key].oracle, self.data))
        return time.perf_counter() - t0

    def execute(self, key: str, traced: bool) -> dict:
        """Build and collect ``key`` once; the result is checked after timing.
        The latency is taken whether or not the execution raises."""
        build = self.reg[key].build
        rec: dict = {"key": key}
        start = time.perf_counter()
        try:
            if traced:
                n = self.n_traced
                self.n_traced += 1
                self.sc.setJobGroup(f"perfbench-{n}-build", key)
                t0 = time.perf_counter()
                df = build(self.spark, self.data)
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"perfbench-{n}-action", key)
                t1b = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                pdf = df.toPandas()
                t3 = time.perf_counter()
                rec.update(build_s=t1 - t0, plan_s=t2 - t1b, action_s=t3 - t2)
            else:
                pdf = build(self.spark, self.data).toPandas()
            rec["latency"] = time.perf_counter() - start
        except Exception as exc:  # a failing key is a measured outcome, not a crash
            rec["latency"] = time.perf_counter() - start
            traceback.print_exc()
            rec["error"] = error_text(exc)
            return rec
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(self.account(n))
        rec["rows"] = len(pdf)
        if self.canon(pdf) != self.refs[key]:
            rec["error"] = "result differs from the DuckDB reference"
        return rec

    def jvm_counters(self) -> tuple[float, float, int]:
        """Totals of the driver JVM: JIT compile time (s), GC time (s) and
        generated classes compiled by Spark's code generator (cache misses
        of its compiled-code cache)."""
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        return (
            mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1e3,
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        )

    def cached_mb(self) -> float:
        """Memory and disk held by persisted and checkpointed blocks, in MiB."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def new_jobs(self) -> list:
        """Job infos with ids from ``next_job`` on, once none is live and
        the list has stopped growing (the status store is updated
        asynchronously by the listener bus)."""
        deadline = time.monotonic() + 5.0
        last = -1
        while True:
            infos, j = [], self.next_job
            while (info := self.tracker.getJobInfo(j)) is not None:
                infos.append(info)
                j += 1
            settled = all(i.status not in _LIVE for i in infos)
            if (settled and len(infos) == last) or time.monotonic() > deadline:
                self.next_job = j
                return infos
            last = len(infos) if settled else -1
            time.sleep(0.02)

    def skip_past_untraced_jobs(self) -> None:
        """Move ``next_job`` past jobs run since the last traced execution."""
        ungrouped = self.tracker.getJobIdsForGroup(None)
        if ungrouped:
            self.next_job = max(self.next_job, max(ungrouped) + 1)
        self.new_jobs()

    def account(self, n: int) -> dict:
        # Settle first: the action's last jobs may not be registered yet.
        infos = self.new_jobs()
        action = set(self.tracker.getJobIdsForGroup(f"perfbench-{n}-action"))
        out = dict(build_jobs=0, jobs=0, stages=0, skipped_stages=0, tasks=0, failed_tasks=0)
        stage_ids = set()
        for info in infos:
            if info.jobId in action:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
            else:
                out["build_jobs"] += 1
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            if st is None:
                continue
            if st.numTasks > 0 and st.numCompletedTasks == 0 and st.numFailedTasks == 0:
                out["skipped_stages"] += 1
            else:
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out


@dataclass
class Pass:
    kind: str  # "settle", "traced" or "untraced"
    execs: list[dict]
    wall_s: float  # release_caches calls plus execution latencies
    cached_mb: list[float]  # blocks the caches hold after each burst
    jvm: dict  # JIT and GC time and code generator compiles in the pass
    host_probe_s: float = 0.0  # host_probe() right after the pass


def run_pass(bench: Bench, release, workload, order: list[str], kind: str) -> Pass:
    """One pass over the mix. The pass wall counts ``release_caches`` and
    the executions; result checks and cache samples are outside it."""
    p = Pass(kind, [], 0.0, [], {})
    before = bench.jvm_counters()
    for key in order:
        t0 = time.perf_counter()
        release(bench.spark)
        p.wall_s += time.perf_counter() - t0
        for _ in range(workload.burst):
            rec = bench.execute(key, kind == "traced")
            p.wall_s += rec["latency"]
            p.execs.append(rec)
        p.cached_mb.append(bench.cached_mb())
    after = bench.jvm_counters()
    p.jvm = dict(zip(("jit_s", "gc_s", "codegen_compiles"), (a - b for a, b in zip(after, before))))
    p.host_probe_s = host_probe()
    return p


def tail(latencies: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile. With 22 samples or fewer that percentile
    would lie below the median, so the upper median is given instead."""
    xs = sorted(latencies)
    i = max(len(xs) - 11, len(xs) // 2)
    return xs[i], 100.0 * (i + 1) / len(xs)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    spawned_at = float(os.environ["PERFBENCH_SPAWNED_AT"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]
    traced = bool(args.trace)

    from etl_cnc_spark.registry import load_all, release_caches
    from etl_cnc_spark.session import get_spark

    t0 = time.monotonic()
    reg = load_all()
    load_all_s = time.monotonic() - t0
    t0 = time.monotonic()
    spark = get_spark("perfbench")
    get_spark_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    bench = Bench(spark, reg, args.data)
    oracle_s = sum(bench.reference(k) for k in workload.keys)

    t0 = time.monotonic()
    warmup = []
    for key in workload.keys:
        release_caches(spark)
        warmup.append(bench.execute(key, False))
    warmup_errors = [e for e in warmup if "error" in e]
    warmup_s = time.monotonic() - t0
    setup_s = time.monotonic() - spawned_at - oracle_s

    # The workload's settling passes come first and are not timed (see
    # workloads.py). Traced runs then alternate traced and untraced passes
    # in the order T U U T, repeated, so that both kinds see the same
    # drift and the difference of their walls is the tracing overhead.
    rng = random.Random(args.seed)
    passes: list[Pass] = []
    while True:
        measured = len(passes) - workload.settle
        if measured < 0:
            kind = "settle"
        elif traced and measured % 4 in (0, 3):
            kind = "traced"
        else:
            kind = "untraced"
        if measured == 0:
            t0 = time.monotonic()
        if kind == "traced":
            bench.skip_past_untraced_jobs()
        order = rng.sample(workload.keys, len(workload.keys))
        passes.append(run_pass(bench, release_caches, workload, order, kind))
        now = time.monotonic()
        if measured >= 0 and now - t0 >= args.seconds and (
            measured + 1 >= workload.passes or now - spawned_at >= RUN_CAP_S
        ):
            break
    measured_s = time.monotonic() - t0

    jvm = [p for p in proc.children(os.getpid()) if proc.comm(p) == "java"]
    if len(jvm) != 1:
        raise RuntimeError(f"expected one Spark driver JVM among the children, found {jvm}")
    jvm_peak_rss_mb = proc.peak_rss_mb(jvm[0])
    spark.stop()

    execs = [e for p in passes for e in p.execs]
    failures: dict[str, int] = {}
    for e in warmup_errors + execs:
        if "error" in e:
            cause = f"{e['key']}: {e['error']}"
            failures[cause] = failures.get(cause, 0) + 1
    untraced = [p for p in passes if p.kind == "untraced"]
    walls = [p.wall_s for p in untraced]
    lat = [e["latency"] for p in untraced for e in p.execs if "error" not in e]
    tail_s, tail_pct = tail(lat) if lat else (0.0, 0.0)
    result = {
        "attempted": len(execs),
        "failed": sum("error" in e for e in execs),
        "correct": not failures,
        "failures": failures,
        "passes": [p.kind for p in passes],
        "measured_s": measured_s,
        "setup": {
            "oracle_s_excluded": oracle_s,
            "warmup_latency_s": {e["key"]: e["latency"] for e in warmup},
        },
        "pass_wall_s": walls,
        "latency_s": {
            key: [e["latency"] for p in untraced for e in p.execs
                  if e["key"] == key and "error" not in e]
            for key in workload.keys
        },
        "settle_wall_s": [p.wall_s for p in passes if p.kind == "settle"],
        "pass_jvm": [dict(kind=p.kind, host_probe_s=p.host_probe_s, **p.jvm) for p in passes],
        "tail": {"percentile": tail_pct, "samples": len(lat)},
        "end_to_end": {
            "setup_s": setup_s,
            "mix_wall_s": med(walls),
            "query_p50_s": med(lat),
            "query_tail_s": tail_s,
            "jvm_peak_rss_mb": jvm_peak_rss_mb,
        },
        "per_layer": {
            "session.get_spark_s": get_spark_s,
            "registry.load_all_s": load_all_s,
            "setup.warmup_s": warmup_s,
        },
    }
    if traced:
        traced_passes = [p for p in passes if p.kind == "traced"]
        layers, result["trace"] = layer_metrics(traced_passes, walls)
        result["per_layer"].update(layers)
        result["per_key"] = per_key([e for p in traced_passes for e in p.execs])
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


SUMMED = ("build_s", "plan_s", "action_s", "build_jobs", "jobs", "stages",
          "skipped_stages", "tasks", "failed_tasks", "rows", "latency")


def layer_metrics(traced: list[Pass], untraced_walls: list[float]) -> tuple[dict, dict]:
    """Per-pass sums of the traced passes, as medians over passes; and the
    tracing record: its overhead on the pass wall, and the part of the
    traced query time that no span covers."""
    sums = {f: med([sum(e.get(f, 0) for e in p.execs) for p in traced]) for f in SUMMED}
    layers = {
        "registry.build_s": sums["build_s"],
        "registry.build_jobs": sums["build_jobs"],
        "plan.plan_s": sums["plan_s"],
        "exec.action_s": sums["action_s"],
        "exec.jobs": sums["jobs"],
        "exec.stages": sums["stages"],
        "exec.skipped_stages": sums["skipped_stages"],
        "exec.tasks": sums["tasks"],
        "exec.sec_per_job": sums["action_s"] / sums["jobs"] if sums["jobs"] else 0.0,
        "exec.rows_out": sums["rows"],
        "registry.cached_peak_mb": med([max(p.cached_mb) for p in traced]),
        "exec.codegen_compiles": med([p.jvm["codegen_compiles"] for p in traced]),
        "jvm.jit_s": med([p.jvm["jit_s"] for p in traced]),
    }
    for key in dict.fromkeys(e["key"] for e in traced[0].execs):
        for f in ("build_s", "action_s", "stages"):
            layers[f"key.{key}.{f}"] = med([
                sum(e.get(f, 0) for e in p.execs if e["key"] == key) for p in traced
            ])
    trace = {
        "overhead_s": med([p.wall_s for p in traced]) - med(untraced_walls),
        "query_s": sums["latency"],
        "unattributed_s": med([
            sum(e["latency"] - e.get("build_s", 0) - e.get("plan_s", 0) - e.get("action_s", 0)
                for e in p.execs)
            for p in traced
        ]),
        "failed_tasks": sums["failed_tasks"],
    }
    return layers, trace


def per_key(execs: list[dict]) -> dict:
    """Median spans and counts of each key over its traced executions."""
    out: dict[str, dict] = {}
    for key in dict.fromkeys(e["key"] for e in execs):
        mine = [e for e in execs if e["key"] == key]
        out[key] = {
            f: med([e[f] for e in mine if f in e])
            for f in ("latency", "build_s", "plan_s", "action_s", "build_jobs", "jobs", "stages", "tasks")
        }
    return out


if __name__ == "__main__":
    raise SystemExit(main())
