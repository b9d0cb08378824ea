"""Seeded input generator for the benchmark.

Everything the program under test reads is written here as parquet, from
``numpy.random.default_rng(seed)`` alone: the same seed gives the same
files. The generator also returns the input shares a reader needs to judge
a run (hot-host rows, gap buckets, out-of-order rows, '#'-frame words),
counted from the generated arrays, not from the program's output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: crawl table schema the pipeline expects (BASELINE.json input_hint)
CRAWL_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
#: the same schema as Spark DDL, for the streaming file source
CRAWL_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

BASE_US = np.datetime64("2024-03-04T00:00:00", "us").astype(np.int64)
MIN_US = 60_000_000
DAY_MIN = 1440
N_HOSTS = 40
LANGS = np.array(["en", "de", "ru", "es", "fr"])
#: SAX frame of the pipeline's 1m→1h words: n=60, w=12 → 5 one-minute slots
FRAME_MIN = 5


class Keys:
    """The url population. Urls, hosts (host 0 is the hot host, with 30 %
    of the urls) and which urls are revisited several times a minute are
    fixed by the url's index, so every seed partitions its keys the same
    way; the seed draws each url's base text length and the period and
    phase of its periodic shape."""

    def __init__(self, rng: np.random.Generator, n_urls: int):
        self.n = n_urls
        i = np.arange(n_urls)
        self.host = np.where(i % 10 < 3, 0, 1 + (i * 7919) % (N_HOSTS - 1))
        self.urls = np.array(
            [f"https://host{h}.example.com/p{j}" for j, h in enumerate(self.host)]
        )
        self.multi = i % 17 == 0
        self.base = rng.integers(60, 160, n_urls).astype(np.float64)
        self.amp = rng.uniform(10.0, 60.0, n_urls)
        self.phase = rng.uniform(0.0, 2 * np.pi, n_urls)
        self.period = rng.choice([45.0, 60.0, 90.0, 240.0], n_urls)


def _outage_mask(rng, n_urls: int, minutes: np.ndarray, share: float) -> np.ndarray:
    """(url, minute) → missing. Random single-minute gaps plus per-url
    outages of 10–40 minutes, so some SAX frames are wholly empty."""
    m = len(minutes)
    gone = rng.random((n_urls, m)) < 0.08
    n_out = rng.poisson(share * m / 25.0, n_urls)
    for u in np.nonzero(n_out)[0]:
        for _ in range(n_out[u]):
            s = rng.integers(0, m)
            gone[u, s : s + rng.integers(10, 41)] = True
    return gone


def crawl_rows(rng, keys: Keys, start_min: int, n_min: int, gaps: bool = True):
    """Rows (url index, minute, warc_ts µs, text length) for minutes
    [start_min, start_min + n_min) relative to BASE_US; with ``gaps`` some
    (url, minute) buckets are missing."""
    minutes = np.arange(start_min, start_min + n_min)
    present = np.ones((keys.n, n_min), dtype=bool)
    if gaps:
        present = ~_outage_mask(rng, keys.n, minutes, 0.05)
    u, j = np.nonzero(present)
    reps = np.where(keys.multi[u], rng.integers(2, 4, len(u)), 1)
    u = np.repeat(u, reps)
    j = np.repeat(j, reps)
    minute = minutes[j]
    sec = rng.integers(0, 60, len(u))
    ts = BASE_US + minute.astype(np.int64) * MIN_US + sec * 1_000_000
    shape = np.sin(2 * np.pi * minute / keys.period[u] + keys.phase[u])
    spike = (rng.random(len(u)) < 0.002) * 300
    tlen = keys.base[u] + keys.amp[u] * shape + rng.normal(0, 4, len(u)) + spike
    tlen = np.maximum(tlen, 1).astype(np.int64)
    return {"u": u, "minute": minute, "ts": ts, "len": tlen}


def to_table(keys: Keys, rows: dict) -> pa.Table:
    u, ts, tlen = rows["u"], rows["ts"], rows["len"]
    urls = keys.urls[u]
    stamps = np.datetime_as_string(ts.astype("datetime64[s]"))
    text = [f"{a}|{b}|" + "x" * n for a, b, n in zip(urls, stamps, tlen)]
    html = [("<html><body>" + t[:48] + "</body></html>").encode() for t in text]
    return pa.Table.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(ts, pa.timestamp("us")),
            pa.array(html, pa.binary()),
            pa.array(text, pa.string()),
            pa.array(LANGS[keys.host[u] % len(LANGS)], pa.string()),
        ],
        schema=CRAWL_SCHEMA,
    )


def write_table(tbl: pa.Table, path: str, files: int = 4) -> None:
    """Write ``tbl`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def shares(keys: Keys, rows: dict, start_min: int, n_min: int) -> dict:
    """Input properties the program's behaviour depends on."""
    u, minute = rows["u"], rows["minute"]
    grid = np.zeros((keys.n, n_min), dtype=bool)
    grid[u, minute - start_min] = True
    hours = n_min // 60
    frames = grid[:, : hours * 60].reshape(keys.n, hours, 60 // FRAME_MIN, FRAME_MIN)
    windows_present = frames.any(axis=(2, 3))
    hole = (~frames.any(axis=3)).any(axis=2) & windows_present
    return {
        "rows": int(len(u)),
        "hot_host_rows_share": round(float((keys.host[u] == 0).mean()), 4),
        "gap_bucket_share": round(float(1.0 - grid.mean()), 4),
        "hash_frame_word_share": round(
            float(hole.sum() / max(windows_present.sum(), 1)), 4
        ),
    }


def crawl(seed: int, path: str, n_urls: int, days: int, files: int = 4):
    """A ``days``-day crawl table at one-minute revisits. Returns
    (Keys, rows, shares)."""
    rng = np.random.default_rng(seed)
    keys = Keys(rng, n_urls)
    rows = crawl_rows(rng, keys, 0, days * DAY_MIN)
    write_table(to_table(keys, rows), path, files)
    return keys, rows, shares(keys, rows, 0, days * DAY_MIN)


def stream_inputs(
    seed: int,
    src_seed_dir: str,
    staged_dir: str,
    n_urls: int,
    seed_minutes: int,
    n_incr: int,
    incr_minutes: int,
    ooo_share: float,
    ooo_back_min: int,
):
    """The stream's seed file plus ``n_incr`` increment files.

    Increment i holds every url at every minute of [seed_minutes +
    i·incr_minutes, +incr_minutes), so each changes the same number of
    buckets; a ``ooo_share`` of its rows is re-stamped up to
    ``ooo_back_min`` minutes before the increment's first minute: out of
    order, but inside the stream's watermark, so none is dropped as late.
    All increments stay inside the store's latest date.
    """
    if (seed_minutes + n_incr * incr_minutes) // DAY_MIN != seed_minutes // DAY_MIN:
        raise ValueError("increments must stay inside the seed's last date")
    rng = np.random.default_rng(seed)
    keys = Keys(rng, n_urls)
    seed_rows = crawl_rows(rng, keys, 0, seed_minutes)
    write_table(to_table(keys, seed_rows), src_seed_dir, 2)
    os.makedirs(staged_dir, exist_ok=True)
    incr, n_ooo, n_rows = [], 0, 0
    for i in range(n_incr):
        lo = seed_minutes + i * incr_minutes
        rows = crawl_rows(rng, keys, lo, incr_minutes, gaps=False)
        k = int(round(ooo_share * len(rows["u"])))
        late = rng.choice(len(rows["u"]), k, replace=False)
        back = rng.integers(1, ooo_back_min + 1, k)
        minute = rows["minute"].copy()
        minute[late] = lo - back
        rows["ts"] = rows["ts"] + (minute - rows["minute"]) * MIN_US
        rows["minute"] = minute
        order = np.argsort(rows["ts"], kind="stable")
        rows = {c: v[order] for c, v in rows.items()}
        f = os.path.join(staged_dir, f"incr-{i:05d}.parquet")
        pq.write_table(to_table(keys, rows), f)
        changed = len(set(zip(rows["u"].tolist(), rows["minute"].tolist())))
        incr.append({"path": f, "rows": int(len(rows["u"])), "changed": changed})
        n_ooo += k
        n_rows += len(rows["u"])
    info = shares(keys, seed_rows, 0, seed_minutes)
    info["ooo_row_share"] = round(n_ooo / max(n_rows, 1), 4)
    info["incr_rows"] = n_rows
    return keys, incr, info


def docs(seed: int, path: str, n_docs: int, dup_share: float = 0.08):
    """Documents (doc_id, text) with planted near-duplicates: each planted
    copy differs from its source in one or two words, so its 5-gram
    Jaccard is high, while unrelated documents share almost no 5-grams.
    Returns the planted (id_a, id_b) pairs and every document's text."""
    rng = np.random.default_rng(seed + 7919)
    vocab = np.array(
        ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), rng.integers(3, 9)))
         for _ in range(4000)]
    )
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(60, 120))])
        for _ in range(n_docs)
    ]
    n_dup = int(n_docs * dup_share)
    src = rng.choice(n_docs, n_dup, replace=False)
    pairs = []
    for d in src:
        words = texts[d].split()
        for _ in range(rng.integers(1, 3)):
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
        pairs.append((int(d), len(texts) - 1))
    tbl = pa.table(
        {"doc_id": pa.array(np.arange(len(texts)), pa.int64()),
         "text": pa.array(texts, pa.string())}
    )
    write_table(tbl, path, 2)
    return pairs, texts
