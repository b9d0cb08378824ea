#!/usr/bin/env python3
"""Benchmark of the symtseries_spark engine: two closed-loop workloads,
one client thread, ``local[4]``.

    python3 tsbench/run.py --workload batch_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.tsbench_work/``, builds what the workload needs, times the first
op after each build, runs untimed warm-up ops, then runs ops for
``--seconds`` seconds (the timed region ends on an op boundary), checks
every op against an independent oracle, and prints every
metric by name with its unit. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``tsbench/LAYERS.md`` says what each metric measures and
which workload it should move.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CORES = 4

#: input sizes per workload; ``--small`` is the smoke test's size
#: (``query``: the query round of traced ``batch_ingest`` runs)
SIZES = {
    "batch_ingest": {"urls": 60, "query": {"urls": 30, "days": 3, "docs": 800}},
    "stream_upsert": {"urls": 50, "seed_minutes": 2160, "increments": 240,
                      "incr_minutes": 2, "ooo_share": 0.05, "ooo_back_min": 5},
}
SMALL = {
    "batch_ingest": {"urls": 20, "query": {"urls": 12, "days": 2, "docs": 300}},
    "stream_upsert": {"urls": 10, "seed_minutes": 1500, "increments": 120,
                      "incr_minutes": 2, "ooo_share": 0.05, "ooo_back_min": 5},
}

E2E_UNITS = {
    "setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
    "points_per_s": "1/s", "store_bytes_per_point": "B",
    "write_bytes_per_point": "B", "peak_rss_mb": "MB",
}


def fail(msg: str) -> None:
    print(f"tsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke test)")
    return ap.parse_args(argv)


def start_session(work: str, trace: bool):
    """The driver JVM and its temporary files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_DRIVER_MEM": "2g",
        "TZ": "UTC",
    })
    time.tzset()
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # an eviction-only micro-batch after every data batch would run
        # concurrently with the next op; in update mode it emits nothing
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # task metrics are logged once, in each task's "Task Metrics"
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    from symtseries_spark.session import get_spark

    spark = get_spark("tsbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until every process this
    run started has ended."""
    import signal

    from pyspark import SparkContext

    import host

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(host.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(lat: list) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(lat)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    s = sorted(lat)
    return {"pct": round(pct, 1), "value_s": s[n - 11], "samples": n}


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "symtseries_spark")):
        fail("run from the repository root: symtseries_spark/ not found")
    sys.path[:0] = [ROOT, HERE]
    import host
    import layers as L
    import spans
    import workloads as WL

    if a.workload not in WL.WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {sorted(WL.WORKLOADS)}")
    size = (SMALL if a.small else SIZES)[a.workload]
    work = os.path.join(ROOT, ".tsbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    cpu0 = host.cpu_snapshot()
    rss = host.RssSampler().start()
    t0 = time.time()
    spark = start_session(work, a.trace)
    session_s = time.time() - t0
    tr = spans.Tracer(spark, enabled=bool(a.trace))
    wl = None
    try:
        wl = WL.WORKLOADS[a.workload](spark, tr, work, a.seed, size)
        t0 = time.time()
        wl.generate()
        gen_s = time.time() - t0

        def run_op(i):
            pids = host.tree_pids()
            wb0 = host.tree_write_bytes(pids)
            wl.before_op()
            t0 = time.time()
            rec = wl.op(i)
            rec["lat"] = time.time() - t0
            rec["end"] = time.time()
            rec["write_bytes"] = host.tree_write_bytes(host.tree_pids()) - wb0
            rec["i"] = i
            wl.ops.append(rec)
            wl.after_op(rec)
            return rec

        # the first op after a build pays codegen, JIT and Python-worker
        # spawn (on stream_upsert: the first upsert into a fresh query);
        # where set-up builds more than once, both take the median
        builds, first = [], []
        t_first = 0.0
        for rep in range(wl.build_reps):
            with tr.span("setup.build", rep=rep):
                t0 = time.time()
                wl.build(rep)
                builds.append(time.time() - t0)
            t0 = time.time()
            first.append(run_op(len(wl.ops)))
            t_first += time.time() - t0
        build_s = median(builds)
        first_op_s = median([r["lat"] for r in first])

        # JIT keeps warming for a few ops after the first
        t0 = time.time()
        for _ in range(wl.warmup_ops):
            run_op(len(wl.ops))
        phases = {"first_ops": t_first, "warmup_ops": time.time() - t0}
        timed = []
        t_region = time.time()
        while wl.has_next() and (time.time() - t_region < a.seconds
                                 or len(timed) < wl.min_timed_ops):
            timed.append(run_op(len(wl.ops)))
        region_s = timed[-1]["end"] - t_region

        phases["timed"] = time.time() - t_region
        t0 = time.time()
        wl.after_region()
        phases["after_region"] = time.time() - t0
        t0 = time.time()
        with tr.span("check"):
            failed = wl.check()
        phases["check"] = time.time() - t0
        attempted = wl.attempted()
        peak_rss = rss.stop()
        cpu1 = host.cpu_snapshot()

        e2e = end_to_end(a.workload, wl, timed, region_s, session_s + gen_s + build_s,
                         first_op_s, peak_rss)
        layer, trace = {}, {}
        baseline = os.path.join(ROOT, ".tsbench_work", f"untraced-{a.workload}.json")
        if a.trace:
            stop_session(spark)  # finishes the event log
            spark = None
            layer, trace = L.compute(a.workload, wl, tr, work, first, timed, session_s,
                                     e2e["op_p50_s"][0])
            if os.path.exists(baseline):
                with open(baseline) as f:
                    untraced = json.load(f)["op_p50_s"]
                trace["untraced_op_p50_s"] = untraced
                trace["tracing_overhead_s"] = layer["trace.op_p50_s"][0] - untraced
        else:
            with open(baseline, "w") as f:
                json.dump({"seed": a.seed, "op_p50_s": e2e["op_p50_s"][0]}, f)
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace,
            "setup": {"session_start_s": session_s, "input_gen_s": gen_s,
                      "store_build_s": build_s, "store_build_reps_s": builds},
            "host": {**host.host_report(cpu0, cpu1), "spark_parallelism": CORES},
            "rss_mb": rss.parts_mb,
            "inputs": wl.info,
            "first_op_latencies_s": [round(r["lat"], 3) for r in first],
            "timed_ops": len(timed),
            "op_latencies_s": [round(r["lat"], 3) for r in timed],
            "phases_s": phases,
            "failed_ops": [r.get("type", r["i"]) for r in wl.ops if not r["ok"]],
            "tail": tail([r["lat"] for r in timed]),
        }
        if a.trace:
            report["tracing"] = trace
        print_report(report, e2e, layer)
        metrics = {k: v for k, v in layer.items() if k not in L.UNLISTED} if a.trace else e2e
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
        }
        if a.trace:
            tr.dump(os.path.join(ROOT, ".tsbench_work", f"spans-{a.workload}.jsonl"))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(name, wl, timed, region_s, setup_s, first_op_s, peak_rss) -> dict:
    import workloads as WL

    if name == "batch_ingest":
        last = wl.ops[-1]
        store_bpp = last["store_bytes"] / last["points"]
    else:
        store_bpp = WL.du(wl.store) / WL.tier_points(wl.store)
    vals = {
        "setup_s": setup_s,
        "first_op_s": first_op_s,
        "op_p50_s": median([r["lat"] for r in timed]),
        "ops_per_s": len(timed) / region_s,
        "points_per_s": median([r["points"] / r["lat"] for r in timed]),
        "store_bytes_per_point": store_bpp,
        "write_bytes_per_point": median([r["write_bytes"] / r["points"] for r in timed]),
        "peak_rss_mb": peak_rss / 2**20,
    }
    return {k: (v, E2E_UNITS[k]) for k, v in vals.items()}


def print_report(report: dict, e2e: dict, layer: dict) -> None:
    print(f"== tsbench {report['workload']} seed={report['seed']} "
          f"seconds={report['seconds']} trace={report['trace']}")
    for k, v in report.items():
        if isinstance(v, dict):
            print(f"{k}: " + ", ".join(f"{a}={b}" for a, b in v.items()))
        elif k not in ("workload", "seed", "seconds", "trace"):
            print(f"{k}: {v}")
    for k, (v, u) in {**e2e, **layer}.items():
        print(f"{k:44s} {v:>16.6g} {u}")


if __name__ == "__main__":
    sys.exit(main())
