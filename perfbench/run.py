#!/usr/bin/env python3
"""Benchmark of the etl_cnc_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_cold --seed 1 --seconds 12 --trace 0

It checks the input tables in ``fixtures/sf0.01`` against their
``SHA256SUMS``, starts ``worker.py`` in a fresh interpreter on
``local[N]`` (N = nproc, at most 2), and prints two lines on stdout: a
JSON record of the run (host, seed, set-up breakdown, failures and their
causes, pass walls, per-key latencies, tail percentile, per-key spans
when traced), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1``. Everything the run writes lives under
``.perfbench_run/`` in the checkout and is removed when it ends; every
process it started has ended by then. Metric definitions and the
layer-to-metric predictions are in ``README.md`` beside this file.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import proc
from workloads import FLAGSHIP, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
MAX_CPUS = 2
# The program's own default (session.py) is 8g. The heap is pre-touched
# (see worker_env), so every run commits all of it: 8 GiB per run is
# more than a shared host should give, and the sf0.01 tables need far
# less.
DRIVER_MEMORY = "1g"
TIME_LIMIT_S = 150.0
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {
    "setup_s": "s",
    "mix_wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "jvm_peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "setup.warmup_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.sec_per_job": "s",
    "exec.rows_out": "count",
    "registry.cached_peak_mb": "MiB",
    "exec.codegen_compiles": "count",
    "jvm.jit_s": "s",
}
# Both workloads run the same keys, so they share the per-key metrics.
for _key in FLAGSHIP:
    PER_LAYER.update({f"key.{_key}.build_s": "s", f"key.{_key}.action_s": "s", f"key.{_key}.stages": "count"})


def adopt_orphans() -> None:
    """Become the subreaper of everything this run starts, so that the
    JVM and the Python workers it forks are still our children (and can
    be waited for) after the worker interpreter exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_all(grace_s: float = 10.0) -> None:
    """Wait for every descendant to end: ``grace_s`` to exit on its own,
    then SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        while True:  # collect the ones that have exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        kids = proc.children(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5.0
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def fixtures_intact() -> bool:
    """True if every table listed in ``SHA256SUMS`` is present and unchanged."""
    try:
        with open(os.path.join(FIXTURES, "SHA256SUMS")) as f:
            sums = [line.split() for line in f if line.strip()]
        for digest, name in sums:
            with open(os.path.join(FIXTURES, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    return False
    except OSError:
        return False
    return bool(sums)


def worker_env(tmp: str, cpus: int) -> dict:
    env = dict(os.environ)
    # The engine must be importable in Spark's Python workers too, not
    # only in this interpreter: UDF and mapInPandas keys unpickle
    # functions from etl_cnc_spark there.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # -XX:-UsePerfData: the JVM would otherwise write its hsperfdata file
    # to the system temp directory, outside the checkout, whatever
    # java.io.tmpdir says. The heap is committed and touched in full at
    # start (-Xms equal to the spark.driver.memory maximum,
    # AlwaysPreTouch): the peak resident memory of a lazily grown heap
    # varied by 13-27% (interquartile range over median) from run to run.
    # So jvm_peak_rss_mb is the heap size plus the peak of everything
    # outside the heap, and on-heap changes such as cached blocks do not
    # move it; registry.cached_peak_mb measures those.
    java_opts = [
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
        f"-Xms{DRIVER_MEMORY}",
        "-XX:+AlwaysPreTouch",
    ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(" ".join(java_opts)),
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    return env


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "etl_cnc_spark")):
        print(f"perfbench: no etl_cnc_spark package in {ROOT}", file=sys.stderr)
        return 2
    if not fixtures_intact():
        print(f"perfbench: tables in {FIXTURES} missing or changed", file=sys.stderr)
        return 2

    adopt_orphans()
    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, MAX_CPUS)
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, "result.json")
    os.makedirs(tmp)
    try:
        env = worker_env(tmp, cpus)
        cmd = [
            sys.executable,
            os.path.join(HERE, "worker.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--data", FIXTURES,
            "--out", out,
        ]
        load1_before = os.getloadavg()[0]
        env["PERFBENCH_SPAWNED_AT"] = repr(time.monotonic())
        with subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr
        ) as child:
            try:
                rc = child.wait(timeout=TIME_LIMIT_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
                print(f"perfbench: run exceeded {TIME_LIMIT_S:.0f} s", file=sys.stderr)
                return 1
        load1_after = os.getloadavg()[0]
        if rc != 0:
            print(f"perfbench: worker exited with code {rc}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    wanted, units = ("per_layer", PER_LAYER) if args.trace else ("end_to_end", END_TO_END)
    metrics = {name: {"value": res[wanted][name], "unit": unit} for name, unit in units.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "master": f"local[{cpus}]",
            "load1_before": load1_before,
            "load1_after": load1_after,
        },
    }
    record.update({k: v for k, v in res.items() if k not in ("correct", "attempted", "failed")})
    print(json.dumps({"perfbench_record": record}))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
