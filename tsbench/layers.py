"""Per-layer metrics of a traced run.

Sources: the spans the benchmark recorded around its calls into the
program, the Spark event log folded into those spans (``spans.EventLog``),
``run_pipeline``'s returned ``timings``, ``streaming_tiers``'
``timings_out`` phases and ``StreamingQueryProgress``, and the files the
program wrote. The read-side operators' figures come from the query round
a traced ``batch_ingest`` run adds after its timed region. Every metric is emitted on every workload; a layer a
workload does not exercise reads 0. ``LAYER_MAP`` names, per metric, the
workloads on which it is non-zero by construction; ``LAYERS.md`` gives the
end-to-end metric each should move.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

import duckdb

import spans as S

BI, SU = "batch_ingest", "stream_upsert"
ALL = (BI, SU)

#: metric → (unit, workloads where the layer is exercised)
LAYER_MAP = {
    "session.start_s": ("s", ALL),
    "pipeline.op_s": ("s", (BI,)),
    "pipeline.rollup_1m_s": ("s", (BI,)),
    "pipeline.consumers_s": ("s", (BI,)),
    "pipeline.cascades_s": ("s", (BI,)),
    "pipeline.index_s": ("s", (BI,)),
    "pipeline.chunks_s": ("s", (BI,)),
    "pipeline.prewarm_s": ("s", (BI,)),
    "pipeline.jobs": ("count", (BI,)),
    "streaming.ingest.trigger_s": ("s", (SU,)),
    "streaming.ingest.add_batch_s": ("s", (SU,)),
    "streaming.ingest.framework_s": ("s", (SU,)),
    "streaming.ingest.wait_s": ("s", (SU,)),
    "streaming.ingest.state_rows": ("count", (SU,)),
    "streaming.ingest.state_commit_s": ("s", (SU,)),
    "streaming.ingest.state_bytes": ("B", (SU,)),
    "checkpoint.merge_1m_s": ("s", (SU,)),
    "checkpoint.cascade_1h_s": ("s", (SU,)),
    "checkpoint.cascade_1d_s": ("s", (SU,)),
    "checkpoint.write_1d_s": ("s", (SU,)),
    "checkpoint.writes_drain_s": ("s", (SU,)),
    "checkpoint.partitions_rewritten": ("count", ALL),
    "checkpoint.rows_rewritten_per_point": ("ratio", ALL),
    "checkpoint.write_bytes": ("B", ALL),
    "checkpoint.files_written": ("count", ALL),
    "sources.tier_scan_s": ("s", (BI,)),
    "operators.gapfill.gapfill_s": ("s", (BI,)),
    "operators.downsample.m4_s": ("s", (BI,)),
    "operators.index.knn_s": ("s", (BI,)),
    "operators.index.range_exact_s": ("s", (BI,)),
    "operators.index.promoted_probe_s": ("s", (BI,)),
    "operators.codecs.decode_s": ("s", (BI,)),
    "operators.symbolize.discords_s": ("s", (BI,)),
    "operators.dedup.dupes_s": ("s", (BI,)),
    "operators.index.refined_per_result": ("ratio", (BI,)),
    "operators.dedup.candidates_per_pair": ("ratio", (BI,)),
    "operators.index.build_s": ("s", (BI,)),
    "operators.dedup.signatures_s": ("s", (BI,)),
    "operators.codecs.compression_ratio": ("ratio", (BI,)),
    "arrow.sent_bytes": ("B", (BI,)),
    "arrow.received_bytes": ("B", (BI,)),
    "arrow.python_s": ("s", (BI,)),
    "arrow.worker_start_s": ("s", (BI,)),
    "exchange.shuffle_write_bytes": ("B", ALL),
    "exchange.shuffle_read_bytes": ("B", ALL),
    "exchange.shuffle_records": ("count", ALL),
    "exchange.fetch_wait_s": ("s", ()),
    "scan.bytes": ("B", ALL),
    "scan.rows": ("count", ALL),
    "executor.cpu_s": ("s", ALL),
    "executor.run_s": ("s", ALL),
    "executor.gc_s": ("s", ()),
    "executor.tasks": ("count", ALL),
    "executor.busy_share": ("ratio", ALL),
    "sortagg.spill_bytes": ("B", ()),
    "sortagg.peak_exec_memory_bytes": ("B", ALL),
    "trace.op_p50_s": ("s", ALL),
}

#: printed but left out of the result line: in local mode shuffle blocks are
#: local and these inputs never spill, so both read 0 on every workload
UNLISTED = ("exchange.fetch_wait_s", "sortagg.spill_bytes")


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def store_files(path: str) -> dict:
    """Relative path → size of every parquet file under ``path``."""
    return {
        os.path.relpath(p, path): os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def written(path: str, before: dict) -> dict:
    """Files present under ``path`` now but not in ``before``: the files an
    op wrote, since every write creates new file names."""
    import pyarrow.parquet as pq

    new = {f: s for f, s in store_files(path).items() if f not in before}
    return {
        "partitions": len({os.path.dirname(f) for f in new}),
        "files": len(new),
        "bytes": sum(new.values()),
        "rows": sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in new),
    }


def compression_ratio(chunks: str) -> float:
    with duckdb.connect() as con:
        n, payload = con.execute(
            f"SELECT sum(n_points), sum(octet_length(ts_payload) + octet_length(val_payload)) "
            f"FROM read_parquet('{chunks}/*.parquet')"
        ).fetchone()
    return 16.0 * n / payload


def compute(name, wl, tr, work, first, timed, session_s, op_p50) -> tuple[dict, dict]:
    """Returns ({metric: (value, unit)}, trace summary). ``op_p50`` is the
    traced run's ``op_p50_s``."""
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    log = S.EventLog(logs[0])
    by_span, left = S.attribute(tr, log)
    jobs_of_op = defaultdict(list)
    for s in tr.spans:
        jobs_of_op[s["op"]].extend(by_span.get(s["id"], []))
    v = {k: 0.0 for k in LAYER_MAP}
    v["session.start_s"] = session_s

    # -- shared Spark layers, per timed op --------------------------------
    def per_op(fn):
        return med(fn(jobs_of_op[r["i"]], r) for r in timed)

    def task_sum(key, scale=1.0):
        return lambda js, r: sum(log.tasks[j][key] for j in js) * scale

    v["exchange.shuffle_write_bytes"] = per_op(task_sum("sh_write"))
    v["exchange.shuffle_read_bytes"] = per_op(task_sum("sh_read"))
    v["exchange.shuffle_records"] = per_op(task_sum("sh_records"))
    v["exchange.fetch_wait_s"] = per_op(task_sum("fetch_wait_ms", 1e-3))
    v["scan.bytes"] = per_op(task_sum("scan_bytes"))
    v["scan.rows"] = per_op(task_sum("scan_rows"))
    v["executor.cpu_s"] = per_op(task_sum("cpu_ns", 1e-9))
    v["executor.run_s"] = per_op(task_sum("run_ms", 1e-3))
    v["executor.gc_s"] = per_op(task_sum("gc_ms", 1e-3))
    v["executor.tasks"] = per_op(task_sum("tasks"))
    v["executor.busy_share"] = per_op(
        lambda js, r: sum(log.tasks[j]["run_ms"] for j in js) * 1e-3 / (r["lat"] * 4))
    v["sortagg.spill_bytes"] = per_op(task_sum("spill"))
    v["sortagg.peak_exec_memory_bytes"] = per_op(
        lambda js, r: max((log.tasks[j]["peak_mem"] for j in js), default=0))
    v["arrow.sent_bytes"] = per_op(lambda js, r: log.sql_metric(js, S.PY_SENT))
    v["arrow.received_bytes"] = per_op(lambda js, r: log.sql_metric(js, S.PY_RECV))
    v["arrow.python_s"] = per_op(lambda js, r: log.sql_metric(js, S.PY_RUN))
    first_jobs = [j for r in first for j in jobs_of_op[r["i"]]]
    v["arrow.worker_start_s"] = log.sql_metric(first_jobs, S.PY_BOOT) + log.sql_metric(
        first_jobs, S.PY_INIT)

    v["trace.op_p50_s"] = op_p50

    # -- pipeline ----------------------------------------------------------
    def prewarm_s(js):
        return sum((log.jobs[j]["end"] or log.jobs[j]["submit"]) - log.jobs[j]["submit"]
                   for j in js if log.jobs[j]["pool"] == "prewarm")

    def pipeline(timings, wall, jobs, prewarm):
        v["pipeline.op_s"] = wall
        v["pipeline.rollup_1m_s"] = timings.get("plan_rollup", 0) + timings.get(
            "write_materialize_1m", timings.get("write_1m", 0))
        v["pipeline.consumers_s"] = timings.get("consumers_concurrent", 0)
        v["pipeline.cascades_s"] = timings.get("job_cascades", 0)
        v["pipeline.index_s"] = timings.get("job_index", 0)
        v["pipeline.chunks_s"] = timings.get("job_chunks", 0)
        v["pipeline.prewarm_s"] = prewarm
        v["pipeline.jobs"] = jobs

    if name == BI:
        ts = [r["result"]["timings"] for r in timed]
        timings = {k: med(t.get(k, 0) for t in ts) for k in {k for t in ts for k in t}}
        pipeline(timings, op_p50, med(len(jobs_of_op[r["i"]]) for r in timed),
                 per_op(lambda js, r: prewarm_s(js)))
        last = wl.ops[-1]["path"]
        w = written(os.path.join(last, "rollup"), {})
        v["operators.codecs.compression_ratio"] = compression_ratio(os.path.join(last, "chunks"))
        points = wl.ops[-1]["points"]
        if wl.qm is not None:
            queries(v, wl.qm, tr, log, jobs_of_op)
    else:
        w = None
        prog = [r["progress"] for r in timed]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in prog]
        v["streaming.ingest.trigger_s"] = med(trig)
        v["streaming.ingest.add_batch_s"] = med(add)
        v["streaming.ingest.framework_s"] = med(a - b for a, b in zip(trig, add))
        # file visible → batch start: the op's wall outside its trigger
        v["streaming.ingest.wait_s"] = med(max(r["lat"] - t, 0.0) for r, t in zip(timed, trig))
        st = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        v["streaming.ingest.state_rows"] = med(s["numRowsTotal"] for s in st)
        v["streaming.ingest.state_commit_s"] = med(s["commitTimeMs"] / 1e3 for s in st)
        v["streaming.ingest.state_bytes"] = med(s["memoryUsedBytes"] for s in st)
        phases = [wl.phases.get(f"batch_{p['batchId']}", {}) for p in prog]
        for k in ("merge_1m", "cascade_1h", "cascade_1d", "write_1d", "writes_drain"):
            v[f"checkpoint.{k}_s"] = med(ph.get(k, 0) for ph in phases)
        ws = [r["written"] for r in timed]
        v["checkpoint.partitions_rewritten"] = med(x["partitions"] for x in ws)
        v["checkpoint.files_written"] = med(x["files"] for x in ws)
        v["checkpoint.write_bytes"] = med(x["bytes"] for x in ws)
        v["checkpoint.rows_rewritten_per_point"] = med(
            x["rows"] / r["points"] for x, r in zip(ws, timed))
    if w is not None:
        v["checkpoint.partitions_rewritten"] = w["partitions"]
        v["checkpoint.files_written"] = w["files"]
        v["checkpoint.write_bytes"] = w["bytes"]
        v["checkpoint.rows_rewritten_per_point"] = w["rows"] / points

    summary = {"jobs": len(log.jobs), "unattributed_jobs": len(left), "spans": len(tr.spans)}
    return {k: (float(x), LAYER_MAP[k][0]) for k, x in v.items()}, summary


def queries(v, qm, tr, log, jobs_of_op) -> None:
    """The read-side operators, from the query round: per op type the
    median latency of its timed rounds (the first round warms up), the
    store build's index and signature steps, and two pruning ratios."""
    from workloads import OP_SPAN

    timed = [r for r in qm.ops if r["round"] > 0]
    for typ, span in OP_SPAN.items():
        v[span + "_s"] = med(r["lat"] for r in timed if r["type"] == typ)
    v["operators.index.build_s"] = med(
        s["end"] - s["start"] for s in tr.spans if s["name"] == "operators.index.build")
    v["operators.dedup.signatures_s"] = med(
        s["end"] - s["start"] for s in tr.spans if s["name"] == "operators.dedup.signatures")
    # rows reaching the exact-distance UDF per answer row
    refine = [r for r in qm.ops if r["type"] in ("knn", "range_exact")]
    refined = sum(log.sql_metric(jobs_of_op[r["i"]], S.ROWS_OUT, "_euclid") for r in refine)
    v["operators.index.refined_per_result"] = refined / max(sum(len(r["rows"]) for r in refine), 1)
    dup = [r for r in qm.ops if r["type"] == "dupes"]
    cands = sum(log.sql_metric(jobs_of_op[r["i"]], S.ROWS_OUT, S.DISTINCT_PAIRS,
                               final=True) for r in dup)
    v["operators.dedup.candidates_per_pair"] = cands / max(sum(len(r["rows"]) for r in dup), 1)
