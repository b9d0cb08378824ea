"""The closed-loop workloads, and the query round traced runs add.

Each workload generates its inputs once, builds its store (``build``, which
the runner may repeat to take a median), runs one op per ``op`` call and,
after the timed region, checks every op it ran against ``oracle``. Calls
into the program are wrapped in tracer spans named after the module whose
public function is called. ``QueryMix`` is not a workload of its own: a
traced ``batch_ingest`` run drives it after its timed region, so the
read-side operators get per-layer figures.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import layers
import oracle as O

from symtseries_spark.operators import codecs, dedup, downsample, index
from symtseries_spark.operators import gapfill as gapfill_op
from symtseries_spark.operators.symbolize import daily_discords, symbolize_windows
from symtseries_spark.pipeline import run_pipeline
from symtseries_spark.sources.io import TableIO
from symtseries_spark.streaming.ingest import streaming_tiers

W, C = 12, 8
TIERS = ("1m", "1h", "1d")


def du(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def tier_points(store: str) -> int:
    return sum(O.store_tier(store, t).shape[0] for t in TIERS)


class Workload:
    """Shared state: the Spark session, the run's directories and seed."""

    name = ""
    #: how many times ``build`` runs during set-up (median reported)
    build_reps = 1
    #: untimed ops between the first op and the timed region
    warmup_ops = 0
    #: the timed region runs at least this many ops
    min_timed_ops = 1

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark, self.tr, self.seed, self.size = spark, tracer, seed, size
        self.work = work
        self.inp = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        os.makedirs(self.inp, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        self.ops: list[dict] = []
        self.info: dict = {}

    def has_next(self) -> bool:
        return True

    def attempted(self) -> int:
        return len(self.ops)

    def after_region(self) -> None:
        """Runs after the timed region, before the check."""

    def before_op(self) -> None:
        """Runs before each op, outside its timing."""

    def after_op(self, rec: dict) -> None:
        """Runs after each op, outside its timing."""

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# batch_ingest
# --------------------------------------------------------------------------


class BatchIngest(Workload):
    """One ``run_pipeline`` over the one-day crawl table per op."""

    name = "batch_ingest"
    #: op latency falls in steps for about ten ops after the first
    warmup_ops = 6
    qm = None

    def generate(self):
        self.crawl = os.path.join(self.inp, "crawl")
        _, _, self.info = gen.crawl(self.seed, self.crawl, self.size["urls"], 1)

    def build(self, rep):
        pass  # the op itself builds the store

    def op(self, i):
        out = os.path.join(self.out, f"op-{i}")
        with self.tr.span("pipeline.run_pipeline", op=i):
            m = run_pipeline(self.spark, self.spark.read.parquet(self.crawl), out_dir=out)
        return {"result": m, "path": out,
                "points": m["points_1m"] + m["points_1h"] + m["points_1d"]}

    def after_op(self, rec):
        """Outside the timed op: size the store, then delete the one
        before it (only the newest store is kept for the content check)."""
        rec["store_bytes"] = du(rec["path"])
        if len(self.ops) > 1:
            shutil.rmtree(self.ops[-2]["path"], ignore_errors=True)

    def after_region(self):
        """Traced runs only: the query round (see ``QueryMix``)."""
        if self.tr.enabled:
            self.qm = QueryMix(self.spark, self.tr, os.path.join(self.work, "query"),
                               self.seed, self.size["query"])
            self.qm.run()

    def attempted(self):
        return len(self.ops) + (len(self.qm.ops) if self.qm else 0)

    def check(self) -> int:
        return self._check() + (self.qm.check() if self.qm else 0)

    def _check(self) -> int:
        files = [self.crawl]
        want = {t: O.rollup(files, t) for t in TIERS}
        keys, wts, M = O.Series(want["1m"], "1m").windows("1h")
        n_chunks = len(want["1d"])
        for rec in self.ops:
            m = rec["result"]
            ok = (
                m["points_1m"] == len(want["1m"]) and m["points_1h"] == len(want["1h"])
                and m["points_1d"] == len(want["1d"]) and m["words"] == len(keys)
                and m["chunks"] == n_chunks
            )
            rec["ok"] = ok
        last = self.ops[-1]
        content = all(O.tier_matches(os.path.join(last["path"], "rollup"), t, want[t]) for t in TIERS)
        idx = O._con().execute(
            f"SELECT key, epoch(window_ts)::BIGINT AS w, word "
            f"FROM read_parquet('{last['path']}/index/*.parquet') ORDER BY 1, 2"
        ).df()
        words = O.words(M, W, C)
        content = content and len(idx) == len(keys) and (
            np.array_equal(idx["key"].to_numpy(), keys)
            and np.array_equal(idx["w"].to_numpy(), wts)
            and np.array_equal(idx["word"].to_numpy(), words)
        )
        self.info["hash_frame_words_program"] = int(sum("#" in w for w in idx["word"]))
        if not content:
            last["ok"] = False
        return sum(not r["ok"] for r in self.ops)


# --------------------------------------------------------------------------
# stream_upsert
# --------------------------------------------------------------------------


class StreamUpsert(Workload):
    """One ``streaming_tiers`` epoch per op over one small increment file."""

    name = "stream_upsert"
    #: each build starts a fresh query on a fresh store and source
    #: directory; the first op runs after each, and the last one stays.
    #: Five, so the medians of build time and first op fall on warm builds
    build_reps = 5
    warmup_ops = 3

    def generate(self):
        s = self.size
        seed_dir = os.path.join(self.inp, "seed")
        staged = os.path.join(self.inp, "staged")
        self.keys, self.incr, self.info = gen.stream_inputs(
            self.seed, seed_dir, staged, s["urls"], s["seed_minutes"],
            s["increments"], s["incr_minutes"], s["ooo_share"], s["ooo_back_min"],
        )
        self.seed_files = sorted(glob.glob(os.path.join(seed_dir, "*.parquet")))
        self.q = None

    def _stop(self):
        """Stops the running query, keeping each of its epochs' progress
        on the op that ran it (batch 0 is the seed)."""
        if self.q is None:
            return
        prog = {p["batchId"]: p for p in self.q.recentProgress}
        for n, rec in enumerate(r for r in self.ops if r["rep"] == self.rep):
            rec["progress"] = prog.get(n + 1)
        self.q.stop()
        self.q = None

    def build(self, rep):
        self._stop()
        self.rep = rep
        self.applied = 0
        self.src = os.path.join(self.out, f"src-{rep}")
        os.makedirs(self.src)
        for f in self.seed_files:
            os.link(f, os.path.join(self.src, os.path.basename(f)))
        self.store = os.path.join(self.out, f"store-{rep}")
        ckpt = os.path.join(self.out, f"ckpt-{rep}")
        self.phases: dict = {}
        stream = self.spark.readStream.schema(gen.CRAWL_DDL).parquet(self.src)
        with self.tr.span("streaming.ingest.streaming_tiers", phase="seed"):
            w = streaming_tiers(stream, self.store, "url", "warc_ts", F.length("text"),
                                ckpt, timings_out=self.phases)
            self.q = w.start()
            self.q.processAllAvailable()
        if rep:
            for d in ("store", "ckpt", "src"):
                shutil.rmtree(os.path.join(self.out, f"{d}-{rep - 1}"), ignore_errors=True)

    def has_next(self) -> bool:
        return self.applied < len(self.incr)

    def op(self, i):
        f = self.incr[self.applied]
        self.applied += 1
        with self.tr.span("streaming.ingest.epoch", op=i):
            # a hard link makes the whole file visible at once, as a rename would
            os.link(f["path"], os.path.join(self.src, os.path.basename(f["path"])))
            visible = time.time()
            self.q.processAllAvailable()
        return {"visible": visible, "rows": f["rows"], "points": f["changed"],
                "path": f["path"], "rep": self.rep}

    def before_op(self):
        if self.tr.enabled:
            self._files = layers.store_files(self.store)

    def after_op(self, rec):
        if self.tr.enabled:
            rec["written"] = layers.written(self.store, self._files)

    def check(self) -> int:
        self._stop()
        for rec in self.ops:
            p = rec["progress"]
            rec["ok"] = p is not None and p["numInputRows"] == rec["rows"]
        files = self.seed_files + [r["path"] for r in self.ops if r["rep"] == self.rep]
        self.want = {t: O.rollup(files, t) for t in TIERS}
        if not all(O.tier_matches(self.store, t, self.want[t]) for t in TIERS):
            for rec in self.ops:
                rec["ok"] = False
        return sum(not r["ok"] for r in self.ops)

    def close(self):
        self._stop()


# --------------------------------------------------------------------------
# the query round of traced batch_ingest runs
# --------------------------------------------------------------------------

OP_TYPES = ("tier_scan", "gapfill", "m4", "knn", "range_exact",
            "promoted_probe", "decode", "discords", "dupes")

#: op type → the span (layer) its call into the program is recorded under
OP_SPAN = {
    "tier_scan": "sources.tier_scan",
    "gapfill": "operators.gapfill.gapfill",
    "m4": "operators.downsample.m4",
    "knn": "operators.index.knn",
    "range_exact": "operators.index.range_exact",
    "promoted_probe": "operators.index.promoted_probe",
    "decode": "operators.codecs.decode",
    "discords": "operators.symbolize.discords",
    "dupes": "operators.dedup.dupes",
}


#: op ids of the query round start here, apart from the workload's own ops
QUERY_OP0 = 1_000_000


class QueryMix(Workload):
    """Every op type once per round, in a seeded order with seeded
    parameters, over a store it builds itself; writes nothing.

    ``run`` generates the inputs, builds the store, then runs one warm-up
    round and ``timed_rounds`` rounds. Traced ``batch_ingest`` runs call it
    after their timed region, so its latencies feed per-layer figures only,
    never an end-to-end metric."""

    name = "query_mix"
    timed_rounds = 2
    PROMOTE_THRESHOLD = 20

    def generate(self):
        s = self.size
        self.crawl = os.path.join(self.inp, "crawl")
        self.docs = os.path.join(self.inp, "docs")
        self.keys, rows, self.info = gen.crawl(self.seed, self.crawl, s["urls"], s["days"])
        # per-url 1m averages of the generated rows: probe series are
        # windows of the input itself, so every probe has true neighbours
        cells = rows["u"] * (s["days"] * gen.DAY_MIN) + rows["minute"]
        n = s["urls"] * s["days"] * gen.DAY_MIN
        with np.errstate(invalid="ignore"):
            self.avg1m = (np.bincount(cells, rows["len"], n) / np.bincount(cells, None, n)) \
                .reshape(s["urls"], -1)
        self.planted, self.texts = gen.docs(self.seed, self.docs, s["docs"])
        self.round = 0

    def build(self, rep):
        sp = self.spark
        st = os.path.join(self.out, f"store-{rep}")
        t0 = time.time()
        with self.tr.span("pipeline.run_pipeline", phase="setup"):
            m = run_pipeline(sp, sp.read.parquet(self.crawl), out_dir=st)
        self.points = m["points_1m"] + m["points_1h"] + m["points_1d"]
        self.pipeline_result = m
        t1 = time.time()
        with self.tr.span("operators.index.build"):
            tiers = sp.read.parquet(f"{st}/rollup")
            symbolize_windows(tiers.filter(F.col("tier") == "1m"), "1m", "1h", W, C) \
                .write.mode("overwrite").parquet(f"{st}/words_1h")
            symbolize_windows(tiers.filter(F.col("tier") == "1h"), "1h", "1d", W, C) \
                .write.mode("overwrite").parquet(f"{st}/words_1d")
            words = sp.read.parquet(f"{st}/words_1h")
            hot = words.groupBy("word").count().orderBy(F.col("count").desc(), "word").first()
            seg = next((i for i, ch in enumerate(hot.word) if ch != "#"), 0)
            index.build_promoted_index(words, f"{st}/promoted", segment=seg,
                                       threshold=self.PROMOTE_THRESHOLD, w=W, c=C, n=60)
        t2 = time.time()
        with self.tr.span("operators.dedup.signatures"):
            dedup.minhash_signatures(sp.read.parquet(self.docs)) \
                .write.mode("overwrite").parquet(f"{st}/mhsig")
        self.info["build_s"] = {"pipeline": round(t1 - t0, 3), "index": round(t2 - t1, 3),
                                "signatures": round(time.time() - t2, 3)}
        if rep:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = st
        self.segment = seg

    # -- one op ----------------------------------------------------------

    def round_params(self):
        """The next round: every op type once, seeded order and parameters."""
        rng = np.random.default_rng([self.seed, self.round])
        self.round += 1
        urls, nk = self.keys.urls, self.keys.n
        days = self.size["days"]

        def series(noise):
            u, h = int(rng.integers(nk)), int(rng.integers(days * 24))
            return self.avg1m[u, h * 60:(h + 1) * 60] + rng.normal(0, noise, 60)

        p = {
            "tier_scan": {"tier": str(rng.choice(TIERS)), "day": int(rng.integers(days)),
                          "keys": sorted(rng.choice(urls, 8, replace=False).tolist())},
            "gapfill": {"keys": sorted(rng.choice(urls, 4, replace=False).tolist())},
            "m4": {"keys": sorted(rng.choice(urls, 6, replace=False).tolist()),
                   "bucket_s": int(rng.choice([600, 1800, 3600]))},
            "knn": {"q": series(2.0), "k": 10},
            "range_exact": {"q": series(2.0), "radius": float(rng.uniform(2.0, 3.5))},
            "promoted_probe": {"q": series(0.0)},
            "decode": {"keys": sorted(rng.choice(urls, 5, replace=False).tolist())},
            "discords": {"keys": sorted(rng.choice(urls, min(16, nk), replace=False).tolist())},
            "dupes": {"threshold": float(rng.choice([0.5, 0.6, 0.7]))},
        }
        return [(t, p[t]) for t in rng.permutation(OP_TYPES)]

    def run(self):
        self.generate()
        with self.tr.span("setup.build", phase="query"):
            self.build(0)
        for rnd in range(1 + self.timed_rounds):
            for typ, params in self.round_params():
                i = QUERY_OP0 + len(self.ops)
                t0 = time.time()
                rec = self.op(i, typ, params)
                rec.update(lat=time.time() - t0, i=i, round=rnd)
                self.ops.append(rec)

    def op(self, i, typ, params):
        sp, st = self.spark, self.store
        with self.tr.span(OP_SPAN[typ], op=i):
            if typ == "tier_scan":
                day = str((np.datetime64(int(gen.BASE_US), "us")
                           + np.timedelta64(params["day"], "D")).astype("datetime64[D]"))
                rows = (
                    TableIO(sp, st, fmt="parquet").read("rollup")
                    .filter((F.col("tier") == params["tier"]) & (F.col("bucket_date") == day)
                            & F.col("key").isin(params["keys"]))
                    .groupBy("key")
                    .agg(F.count(F.lit(1)).alias("buckets"), F.sum("crawl_cnt").alias("crawl_cnt"),
                         F.sum("cnt").alias("cnt"), F.sum("sum").alias("sum"))
                    .collect()
                )
            elif typ == "gapfill":
                r = sp.read.parquet(f"{st}/rollup").filter(
                    (F.col("tier") == "1m") & F.col("key").isin(params["keys"]))
                rows = gapfill_op.gapfill(r, "1m", methods=("locf", "linear")).collect()
            elif typ == "m4":
                r = sp.read.parquet(f"{st}/rollup").filter(
                    (F.col("tier") == "1m") & F.col("key").isin(params["keys"]))
                rows = downsample.m4_downsample(r, "key", "bucket_ts", "text_len_avg",
                                                bucket_s=params["bucket_s"]).collect()
            elif typ == "knn":
                rows = index.exact_knn(sp.read.parquet(f"{st}/words_1h"), params["q"],
                                       W, C, params["k"]).select("key", "window_ts", "euclid").collect()
            elif typ == "range_exact":
                rows = index.range_query_exact(sp.read.parquet(f"{st}/words_1h"), params["q"], W, C,
                                               params["radius"]).select("key", "window_ts", "euclid").collect()
            elif typ == "promoted_probe":
                rows = index.promoted_lookup_indexed(sp, f"{st}/promoted", params["q"]) \
                    .select("key", "window_ts", "word", "word_promoted").collect()
            elif typ == "decode":
                ch = sp.read.parquet(f"{st}/chunks").filter(F.col("key").isin(params["keys"]))
                rows = codecs.decode_chunks(ch).select("key", "bucket_ts", "value").collect()
            elif typ == "discords":
                wd = sp.read.parquet(f"{st}/words_1d").filter(F.col("key").isin(params["keys"]))
                rows = daily_discords(wd.select("key", "window_ts", "word", "n"), C).collect()
            else:
                rows = dedup.minhash_lsh_dupes(sp.read.parquet(self.docs),
                                               threshold=params["threshold"],
                                               sig=sp.read.parquet(f"{st}/mhsig")).collect()
        return {"type": typ, "params": params, "rows": rows}

    # -- correctness -----------------------------------------------------

    def check(self) -> int:
        files = [self.crawl]
        self.want = {t: O.rollup(files, t) for t in TIERS}
        k1h, w1h, M1h = O.Series(self.want["1m"], "1m").windows("1h")
        self.wk = (k1h, w1h, M1h, O.words(M1h, W, C))
        for rec in self.ops:
            rec["ok"] = bool(getattr(self, "_ok_" + rec["type"])(rec["params"], rec["rows"]))
        return sum(not r["ok"] for r in self.ops)

    def _ok_tier_scan(self, p, rows):
        r = self.want[p["tier"]]
        lo = gen.BASE_US // 1_000_000 + p["day"] * 86400
        r = r[(r["bucket_ts"] >= lo) & (r["bucket_ts"] < lo + 86400) & r["key"].isin(p["keys"])]
        want = r.groupby("key").agg(buckets=("bucket_ts", "size"), crawl_cnt=("crawl_cnt", "sum"),
                                    cnt=("cnt", "sum"), sum=("sum", "sum"))
        got = {x["key"]: (x["buckets"], x["crawl_cnt"], x["cnt"], x["sum"]) for x in rows}
        return len(got) == len(want) and all(
            k in got and got[k][:3] == (v["buckets"], v["crawl_cnt"], v["cnt"])
            and np.isclose(got[k][3], v["sum"], rtol=O.RTOL, atol=0)
            for k, v in want.iterrows())

    def _close_col(self, got, want, col):
        a, b = got[col].to_numpy(float), want[col].to_numpy(float)
        return np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)

    def _frame(self, rows, cols):
        import pandas as pd

        return pd.DataFrame([tuple(r[c] for c in cols) for r in rows], columns=cols)

    def _ok_gapfill(self, p, rows):
        r = self.want["1m"]
        want = O.gapfill(r[r["key"].isin(p["keys"])], "1m")
        cols = ["key", "bucket_ts", "value", "is_gap", "value_locf", "value_linear"]
        got = self._frame(rows, cols)
        got["bucket_ts"] = got["bucket_ts"].map(lambda t: int(t.timestamp()))
        got = got.sort_values(["key", "bucket_ts"]).reset_index(drop=True)
        return (len(got) == len(want) and (got["key"] == want["key"]).all()
                and (got["bucket_ts"].to_numpy() == want["bucket_ts"].to_numpy()).all()
                and (got["is_gap"].to_numpy() == want["is_gap"].to_numpy()).all()
                and all(self._close_col(got, want, c) for c in cols[4:] + ["value"]))

    def _ok_m4(self, p, rows):
        r = self.want["1m"]
        want = O.m4(r[r["key"].isin(p["keys"])], p["bucket_s"])
        cols = ["key", "bucket_ts", "n", "first_v", "last_v", "min_v", "max_v",
                "t_first", "t_last", "t_min", "t_max"]
        got = self._frame(rows, cols)
        got["bucket_ts"] = got["bucket_ts"].map(lambda t: int(t.timestamp()))
        got = got.sort_values(["key", "bucket_ts"]).reset_index(drop=True)
        return (len(got) == len(want) and (got["key"] == want["key"]).all()
                and (got["bucket_ts"].to_numpy() == want["bucket_ts"].to_numpy()).all()
                and (got["n"].to_numpy() == want["n"].to_numpy()).all()
                and all(self._close_col(got, want, c) for c in cols[3:]))

    def _dists(self, q):
        k, w, M, _ = self.wk
        return k, w, O.znorm_euclid(M, np.asarray(q, float))

    def _ok_knn(self, p, rows):
        k, w, d = self._dists(p["q"])
        order = np.lexsort((w, k, d))[: p["k"]]
        got = [(x["key"], int(x["window_ts"].timestamp()), x["euclid"]) for x in rows]
        if len(got) != len(order):
            return False
        # equal-distance ties may resolve either way only at the cut
        if not np.allclose([g[2] for g in got], d[order], rtol=1e-9, atol=1e-9):
            return False
        cut = d[order[-1]]
        strict = {(k[i], int(w[i])) for i in order if d[i] < cut - 1e-9}
        return strict <= {(g[0], g[1]) for g in got}

    def _ok_range_exact(self, p, rows):
        k, w, d = self._dists(p["q"])
        r = p["radius"]
        sure = {(k[i], int(w[i])) for i in np.flatnonzero(d <= r - 1e-9)}
        maybe = {(k[i], int(w[i])) for i in np.flatnonzero(d <= r + 1e-9)}
        got = {(x["key"], int(x["window_ts"].timestamp())) for x in rows}
        return sure <= got <= maybe and len(got) == len(rows)

    def _ok_promoted_probe(self, p, rows):
        from symtseries_spark import kernel as K

        k, w, M, words = self.wk
        q = np.asarray(p["q"], float)
        seg = self.segment
        qword = K.symbols_to_string(K.symbolize(q, W, C), C)
        fine = K.symbols_to_string(K.symbolize(q, W, 2 * C)[seg:seg + 1], 2 * C).lower()
        qprom = qword[:seg] + fine + qword[seg + 1:]
        sel = np.flatnonzero(words == qword)
        hot = (words == qword).sum() > self.PROMOTE_THRESHOLD
        want = set()
        for i in sel:
            if hot:
                f = K.symbols_to_string(K.symbolize(M[i], W, 2 * C)[seg:seg + 1], 2 * C).lower()
                if words[i][:seg] + f + words[i][seg + 1:] != qprom:
                    continue
            want.add((k[i], int(w[i])))
        got = {(x["key"], int(x["window_ts"].timestamp())) for x in rows}
        return got == want and len(rows) == len(want)

    def _ok_decode(self, p, rows):
        r = self.want["1m"]
        r = r[r["key"].isin(p["keys"])]
        want = {(a, int(b)): s / c for a, b, s, c in zip(r["key"], r["bucket_ts"], r["sum"], r["cnt"])}
        got = {(x["key"], int(x["bucket_ts"].timestamp())): x["value"] for x in rows}
        return len(rows) == len(want) and got == want

    def _ok_discords(self, p, rows):
        r = self.want["1h"]
        keys, wts, M = O.Series(r[r["key"].isin(p["keys"])], "1h").windows("1d")
        want = O.discords(keys, wts, O.words(M, W, C), C, M.shape[1])
        got = {x["key"]: (int(x["window_ts"].timestamp()), x["avg_dist"]) for x in rows}
        return len(got) == len(want) == len(rows) and all(
            # the program rounds avg_dist to 6 decimals
            k in got and got[k][0] in days and abs(got[k][1] - best) <= 5e-7
            for k, (days, best) in want.items())

    def _ok_dupes(self, p, rows):
        th = p["threshold"]
        got = {(x["id_a"], x["id_b"]) for x in rows}
        if len(got) != len(rows) or any(a >= b for a, b in got):
            return False
        # LSH may miss a borderline pair; a planted pair well above the
        # threshold must be found, and every reported pair must be similar
        need = {pr for pr in self.planted if O.jaccard(self.texts[pr[0]], self.texts[pr[1]]) >= th + 0.2}
        return need <= got and all(
            O.jaccard(self.texts[a], self.texts[b]) >= th - 0.3 for a, b in got)


WORKLOADS = {w.name: w for w in (BatchIngest, StreamUpsert)}
