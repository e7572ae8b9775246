"""Seeded input generators: the engine receives only these files.

Tables follow ``operators.synth``: its schemas, its row counts
(``synth_counts``), its value domains and vocabularies (imported from
it), its language mix and duplicate tail, and its file layout (rows
dealt across a fixed number of files, as ``synth_tables``'
repartition does). The draws come from ``numpy`` seeded by the
workload seed instead of ``synth``'s xxhash columns, so the same seed
always writes the same bytes in about a second at sf0.1, where Spark
synthesis takes 20-40 s. Two differences remain: the values are other
draws from the same distributions, and a near-copy document copies the
text of its source as written (``synth`` regenerates the source's
seed document, so a copy of a copy differs).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from ts_data_pipeline_spark.operators.synth import (
    _EVENT_TYPES,
    _LANGS,
    _PRIORITIES,
    _SEGMENTS,
    _VOCAB,
    synth_counts,
)

#: ``synth_documents``' language cut points 0.41/0.56/0.71/0.86
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_US_DAY = 86_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds


def _pick(rng, options, n):
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events_table(rng, n: int, n_users: int, start_us: int = _EPOCH_2024,
                 span_us: int = 30 * _US_DAY, value_max: float = 100.0):
    """Events in ``synth_events``' shape; ``ts`` uniform over ``span_us``."""
    ts = start_us + rng.integers(0, span_us, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.random(n) * value_max, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n)
                                         .astype(str)), "}").astype(object),
    })


def _customer(rng, n):
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": k,
        "c_name": np.char.add("Customer#", np.char.zfill(k.astype(str), 9))
        .astype(object),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.random(n) * 10999.65 - 999.85, 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n),
        "o_totalprice": np.round(rng.random(n) * 450000.0 + 900.0, 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n) * _US_DAY),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _lineitem(rng, n_orders, n_part, n_supp):
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(ok)
    ln = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    return pa.table({
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": ln.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n) * 104099.23 + 900.68, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("O", "F"), n),
        "l_shipdate": _ts(_EPOCH_1995 + _US_DAY
                          + rng.integers(0, 2499, n) * _US_DAY),
    })


def _documents(rng, n):
    """Word-sampled docs with a planted duplicate tail: ~0.2% exact
    copies and ~5% one-word near-copies of a doc at most 50 ids back."""
    texts: list[str] = []
    langs = np.asarray(_LANGS, dtype=object)[rng.choice(len(_LANGS), n, p=_LANG_P)]
    sources = np.char.add("src", rng.integers(0, 20, n).astype(str))
    words = np.asarray(_VOCAB, dtype=object)
    for d in range(n):
        u = rng.random()
        if d and u < 0.05:
            src = max(d - int(rng.integers(1, 51)), 0)
            toks = texts[src].split(" ")
            if u >= 0.002:
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            langs[d], sources[d] = langs[src], sources[src]
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(10, 101))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": langs,
        "source": sources.astype(object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


#: files per table, the layout the engine's synthetic SF uses
FILES = {"lineitem": 32, "orders": 16, "events": 8, "customer": 4,
         "documents": 4}


def write_table(table, path: str, files: int, rng) -> None:
    """``path`` as a directory of ``files`` parquet parts, rows dealt
    across them in a seeded random order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    table = table.take(rng.permutation(n))
    for i in range(files):
        a, b = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"))


def scale_factor(out_dir: str, tables: tuple[str, ...], sf: float,
                 seed: int) -> str:
    """Write ``tables`` at ``sf`` for ``seed`` as ``<out_dir>/<table>.parquet/``."""
    c = synth_counts(sf)
    rng = np.random.default_rng(seed % 2**32)
    make = {
        "events": lambda: events_table(rng, c["events"],
                                       max(10, c["customer"] // 10)),
        "customer": lambda: _customer(rng, c["customer"]),
        "orders": lambda: _orders(rng, c["orders"], c["customer"]),
        "lineitem": lambda: _lineitem(rng, c["orders"], c["part"],
                                      c["supplier"]),
        "documents": lambda: _documents(rng, c["documents"]),
    }
    for t in tables:
        write_table(make[t](), os.path.join(out_dir, f"{t}.parquet"), FILES[t],
                    rng)
    return out_dir
