"""Independent answers for every benchmark op.

Tier contents come from DuckDB over the generated parquet; words and
distances from the numpy ``kernel`` over series DuckDB assembles. Text
lengths are integers, so every bucket sum is exact in float64 and bucket
averages (sum / count) are bit-identical in both engines: words can be
compared exactly and sums with a tight relative tolerance.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from symtseries_spark import kernel as K

UNIT = {"1m": "minute", "1h": "hour", "1d": "day"}
STEP = {"1m": 60, "1h": 3600, "1d": 86400}
RTOL = 1e-9


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    return con


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def rollup(files: list[str], tier: str) -> pd.DataFrame:
    """(key, bucket_ts, crawl_cnt, cnt, sum, sumsq) per bucket of ``tier``,
    sorted by (key, bucket_ts); bucket_ts in epoch seconds."""
    src = ", ".join(f"'{_glob(f)}'" for f in files)
    q = f"""
        SELECT url AS key,
               epoch(date_trunc('{UNIT[tier]}', warc_ts))::BIGINT AS bucket_ts,
               count(*) AS crawl_cnt, count(length(text)) AS cnt,
               sum(length(text))::DOUBLE AS sum,
               sum(length(text)::DOUBLE * length(text)) AS sumsq
        FROM read_parquet([{src}]) GROUP BY 1, 2 ORDER BY 1, 2
    """
    with _con() as con:
        return con.execute(q).df()


def store_tier(path: str, tier: str) -> pd.DataFrame:
    """The program's tier store, read back without Spark."""
    q = f"""
        SELECT key, epoch(bucket_ts)::BIGINT AS bucket_ts, crawl_cnt, cnt,
               sum, sumsq
        FROM read_parquet('{path}/tier={tier}/*/*.parquet')
        ORDER BY 1, 2
    """
    with _con() as con:
        return con.execute(q).df()


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, exact: list, approx: list) -> bool:
    if len(got) != len(want):
        return False
    g = got.sort_values(["key", "bucket_ts"]).reset_index(drop=True)
    w = want.sort_values(["key", "bucket_ts"]).reset_index(drop=True)
    for c in exact:
        if not np.array_equal(g[c].to_numpy(), w[c].to_numpy()):
            return False
    for c in approx:
        if not np.allclose(g[c].to_numpy(float), w[c].to_numpy(float), rtol=RTOL, atol=0):
            return False
    return True


def tier_matches(store: str, tier: str, want: pd.DataFrame) -> bool:
    return frames_equal(
        store_tier(store, tier), want,
        ["key", "bucket_ts", "crawl_cnt", "cnt"], ["sum", "sumsq"],
    )


class Series:
    """Per-key series of bucket averages on a dense grid, the input of
    windowed symbolization: ``windows(tier, window_tier)`` returns the keys,
    window starts (epoch s) and an (N, n) matrix with NaN where a bucket is
    absent — the same windows ``symbolize_windows`` emits."""

    def __init__(self, r: pd.DataFrame, tier: str):
        self.r = r
        self.tier = tier

    def windows(self, window_tier: str):
        step, wstep = STEP[self.tier], STEP[window_tier]
        n = wstep // step
        r = self.r
        wts = (r["bucket_ts"].to_numpy() // wstep) * wstep
        off = (r["bucket_ts"].to_numpy() - wts) // step
        keys = r["key"].to_numpy()
        frame = pd.DataFrame({"key": keys, "w": wts})
        codes, uniq = pd.factorize(pd.MultiIndex.from_frame(frame), sort=True)
        M = np.full((len(uniq), n), np.nan)
        M[codes, off] = r["sum"].to_numpy() / r["cnt"].to_numpy()
        return (
            np.array([u[0] for u in uniq]),
            np.array([u[1] for u in uniq], dtype=np.int64),
            M,
        )


def words(M: np.ndarray, w: int, c: int) -> np.ndarray:
    syms = K.symbolize_batch(M, w, c)
    return np.array([K.symbols_to_string(s, c) for s in syms])


def znorm_euclid(M: np.ndarray, q: np.ndarray) -> np.ndarray:
    """z-normalized Euclidean distance of every row of M to q: population
    std over finite values, stationary rows map to 0, non-finite positions
    contribute nothing."""
    def z(X):
        X = np.where(np.isfinite(X), X, np.nan)
        mu = np.nanmean(X, axis=-1, keepdims=True)
        sd = np.nanstd(X, axis=-1, keepdims=True)
        flat = sd < K.STAT_EPS
        Z = np.where(flat, 0.0, (X - mu) / np.where(flat, 1.0, sd))
        return np.where(np.isfinite(X), Z, np.nan)

    with np.errstate(invalid="ignore", divide="ignore"):
        Z, qz = z(M), z(q[None, :])
    d = np.where(np.isfinite(Z) & np.isfinite(qz), Z - qz, 0.0)
    return np.sqrt((d * d).sum(axis=1))


def gapfill(r: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Dense grid per key from its first to last bucket with LOCF and
    linear fill by time."""
    step = STEP[tier]
    out = []
    for key, g in r.groupby("key", sort=True):
        t = np.arange(g["bucket_ts"].min(), g["bucket_ts"].max() + step, step)
        v = pd.Series(np.nan, index=t)
        v[g["bucket_ts"].to_numpy()] = (g["sum"] / g["cnt"]).to_numpy()
        present = v.notna()
        locf = v.ffill()
        lin = v.interpolate(method="index", limit_area="inside")
        lin = lin.fillna(v.bfill()).fillna(locf)
        out.append(pd.DataFrame({
            "key": key, "bucket_ts": t, "value": v.to_numpy(),
            "is_gap": ~present.to_numpy(), "value_locf": locf.to_numpy(),
            "value_linear": lin.to_numpy(),
        }))
    return pd.concat(out, ignore_index=True)


def m4(r: pd.DataFrame, bucket_s: int) -> pd.DataFrame:
    """First/last by time, min (earliest on ties) and max (latest on ties)
    by value, per (key, bucket)."""
    d = r.assign(v=r["sum"] / r["cnt"], b=(r["bucket_ts"] // bucket_s) * bucket_s)
    g = d.sort_values(["key", "b", "bucket_ts"]).groupby(["key", "b"], sort=True)
    byv = d.sort_values(["key", "b", "v", "bucket_ts"]).groupby(["key", "b"], sort=True)
    lo, hi = byv.head(1).set_index(["key", "b"]), byv.tail(1).set_index(["key", "b"])
    out = pd.DataFrame({
        "n": g.size(),
        "first_v": g["v"].first(), "last_v": g["v"].last(),
        "min_v": lo["v"], "max_v": hi["v"],
        "t_first": g["bucket_ts"].first(), "t_last": g["bucket_ts"].last(),
        "t_min": lo["bucket_ts"], "t_max": hi["bucket_ts"],
    })
    return out.reset_index().rename(columns={"b": "bucket_ts"})


def discords(keys, wts, wds, c: int, n: int) -> dict:
    """key → (set of admissible window starts, avg_dist) of its discord day:
    the day whose word has the largest mean reference mindist to the
    key's other days."""
    out = {}
    for key in np.unique(keys):
        sel = np.flatnonzero(keys == key)
        if len(sel) < 2:
            continue
        S = np.stack([K.string_to_symbols(wds[i], c) for i in sel])
        D = len(sel)
        ii, jj = np.repeat(np.arange(D), D), np.tile(np.arange(D), D)
        d = K.mindist_pairs(S[ii], S[jj], c, np.full(D * D, n), np.full(D * D, n))
        d = d.reshape(D, D)
        avg = (d.sum(axis=1) - np.diag(d)) / (D - 1)
        best = avg.max()
        tied = {int(wts[sel[i]]) for i in range(D) if np.isclose(avg[i], best, rtol=RTOL, atol=1e-12)}
        out[key] = (tied, best)
    return out


def shingles(text: str, k: int = 5) -> set:
    b = text.encode()
    return {b[i : i + k] for i in range(len(b) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)
