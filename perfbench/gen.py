"""Seeded, byte-reproducible inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same parquet bytes (pyarrow, fixed writer options), and ``sha256_files``
records them. Nothing imports Spark or the package under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def sha256_files(paths: "list[str]") -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# --------------------------------------------------------------- streams


@dataclass(frozen=True)
class StreamShape:
    """One streamed micro-batch per file; batch ``b`` covers event time
    ``[b * period_ms, (b + 1) * period_ms)`` past EPOCH_MS, so every row
    of a batch is above the watermark left by the previous one (no late
    rows with a zero watermark delay)."""

    kind: str  # "churn" or "dense"
    keys: int  # churn: new keys per batch; dense: the fixed key count
    rows_per_key: int  # rows per live key per batch
    period_ms: int
    ttl_ms: int
    warmup: int  # untimed data batches before the timed window
    max_batches: int  # files staged; the timed loop stops early if used up


def stream_batches(shape: StreamShape, seed: int):
    """Yield ``(key, ts_ms, value)`` int64 arrays per micro-batch.

    churn: every batch adds ``shape.keys`` new keys; each lives 2-4
    consecutive batches (mean 3) with one row per batch, then never
    returns; the first batch starts with a full population. dense:
    ``shape.keys`` keys, each with ``rows_per_key`` distinct-millisecond
    rows per batch, spread uniformly so that some in-batch gaps exceed a
    short TTL."""
    rng = np.random.default_rng(seed)
    # churn key id = (birth batch + 3) * keys + j; births start at -3 so
    # the first batch already carries a steady-state key population
    lives = rng.integers(2, 5, size=shape.keys * (shape.max_batches + 3))
    for b in range(shape.max_batches):
        base = EPOCH_MS + b * shape.period_ms
        if shape.kind == "churn":
            ids = np.arange(b * shape.keys, (b + 4) * shape.keys)
            key = ids[ids // shape.keys - 3 + lives[ids] > b]
            offs = rng.integers(0, shape.period_ms, size=len(key))
        else:
            key = np.repeat(np.arange(shape.keys), shape.rows_per_key)
            offs = np.concatenate(
                [
                    rng.choice(shape.period_ms, shape.rows_per_key, replace=False)
                    for _ in range(shape.keys)
                ]
            )
        value = rng.integers(1, 101, size=len(key))
        perm = rng.permutation(len(key))
        yield (
            key[perm].astype(np.int64),
            (base + offs[perm]).astype(np.int64),
            value[perm].astype(np.int64),
        )


def stage_stream(shape: StreamShape, seed: int, out_dir: str) -> "tuple[list[str], list]":
    """Write one parquet file per micro-batch; returns the paths and the
    in-memory batches (for the reference). ``ts`` is a UTC timestamp: an
    NTZ column would stall the watermarked stream."""
    os.makedirs(out_dir, exist_ok=True)
    paths, batches = [], []
    for b, (key, ts_ms, value) in enumerate(stream_batches(shape, seed)):
        table = pa.table(
            {
                "key": key,
                "ts": pa.array(ts_ms * 1000, pa.timestamp("us", tz="UTC")),
                "value": value,
            }
        )
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        _write(table, path)
        paths.append(path)
        batches.append((key, ts_ms, value))
    return paths, batches


def stream_reference(shape: StreamShape, batches: list) -> "list[tuple[int, int, int, int]]":
    """Independent numpy model of ``running_sum_stream(time_mode="event",
    watermark_delay="0 seconds")`` over the staged batches.

    Per batch: (rows out, exact sum of running_sum, keys in the state
    store after the batch, keys new to the store in the batch). The
    running sum restarts where a key's gap to its previous row exceeds
    the TTL. The store keeps a key until a batch whose watermark (max
    event time of all earlier batches) passes its timer
    ``max(last_access + ttl, watermark + 1)`` while the key has no data."""
    n = len(batches)
    key = np.concatenate([b[0] for b in batches])
    ts = np.concatenate([b[1] for b in batches])
    val = np.concatenate([b[2] for b in batches])
    bid = np.repeat(np.arange(n), [len(b[0]) for b in batches])
    order = np.lexsort((ts, key))
    k, t, v, bb = key[order], ts[order], val[order], bid[order]
    new_seg = np.ones(len(k), dtype=bool)
    new_seg[1:] = (k[1:] != k[:-1]) | (t[1:] - t[:-1] > shape.ttl_ms)
    csum = np.cumsum(v)
    seg_start = np.maximum.accumulate(np.where(new_seg, np.arange(len(k)), 0))
    running = csum - np.where(seg_start > 0, csum[seg_start - 1], 0)
    sums = np.zeros(n, dtype=np.int64)
    np.add.at(sums, bb, running)

    out = []
    timers: "dict[int, int]" = {}
    wm = 0
    for b, (bkey, bts, _) in enumerate(batches):
        o = np.lexsort((bts, bkey))
        ks, ts_sorted = bkey[o], bts[o]
        is_last = np.ones(len(ks), dtype=bool)
        is_last[:-1] = ks[1:] != ks[:-1]
        last = dict(zip(ks[is_last].tolist(), ts_sorted[is_last].tolist()))
        new = sum(1 for kk in last if kk not in timers)
        for kk in [kk for kk, tm in timers.items() if tm < wm and kk not in last]:
            del timers[kk]
        for kk, tt in last.items():
            timers[kk] = max(tt + shape.ttl_ms, wm + 1)
        out.append((len(bkey), int(sums[b]), len(timers), new))
        wm = max(wm, int(bts.max()))
    return out


# ----------------------------------------------------------- batch tables

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_COLORS = "red blue green black white small large tiny".split()
_NOUNS = "widget bolt ring plate gear valve screw spring".split()


def _ts_us(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype(np.int64) * 1000, pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return _ts_us(rng.integers(lo, hi + 1, size=n) * 86_400_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def batch_tables(seed: int, sf: float) -> "dict[str, pa.Table]":
    """A TPC-H-like star schema plus events/documents/embeddings, with
    the schemas and value ranges of the repository's test tables
    (FIXTURES.md) at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: "dict[str, pa.Table]" = {}
    t["region"] = pa.table(
        {
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{c} {w}" for c in _COLORS for w in _NOUNS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, len(types), n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    ev_ms = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) // 1000
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(EPOCH_MS + ev_ms),
            "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
            "event_type": kinds[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n_emb)),
        }
    )
    return t


def stage_tables(seed: int, sf: float, out_dir: str) -> "tuple[dict[str, int], str]":
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts and the sha256 of the files."""
    os.makedirs(out_dir, exist_ok=True)
    rows, paths = {}, []
    for name, table in batch_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        rows[name] = table.num_rows
        paths.append(path)
    return rows, sha256_files(paths)
