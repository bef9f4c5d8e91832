"""Deterministic synthetic tables for the benchmark.

The tables mirror the shapes and distributions of the engine's TPC-H-ish
star schema plus the ``events`` / ``documents`` / ``embeddings`` tables
(one single-file parquet per table, as ``io.load_table`` expects).  They
are generated from a FIXED generator seed, so every run of every
workload sees the same tables; the benchmark's ``--seed`` only picks
which slice of them a run covers (see ``slices``).  Keeping the tables
fixed means run-to-run spread across seeds measures the program, not
different data.

``scale=1.0`` is the engine's "sf0.1" size: 100k events, 150k orders,
600k lineitem rows, 5k documents, 2k embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
# bump when the generated content changes, so cached tables regenerate
VERSION = "1"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_ADJ = ["large", "hot", "blue", "small", "red", "cold"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_UTC = dt.timezone.utc
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 = the engine's sf0.1)."""
    n = lambda base: max(int(base * scale), 10)  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(15_000),
        "supplier": n(1_000),
        "part": n(20_000),
        "orders": n(150_000),
        "lineitem": n(600_000),
        "events": n(100_000),
        "documents": n(5_000),
        "embeddings": n(2_000),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word docs plus ~0.2% exact copies and ~5% near-copies (the
    original with one appended token): word-3-gram Jaccard is then either
    >= 0.96 or near 0, so MinHash-LSH finds exactly the exhaustive pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, size=k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GENERATOR_SEED)
    sz = sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = sz["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = sz["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        }
    )
    npart = sz["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [_PTYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
        }
    )
    no = sz["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["O", "F", "P"][j] for j in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, no), 2),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = sz["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["N", "A", "R"][j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [["O", "F"][j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        }
    )
    ne = sz["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, sz["documents"])
    nv = sz["embeddings"]
    vecs = rng.normal(0, 0.12, (nv, 64)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 8, nv), pa.int32()),
        }
    )
    return out


def ensure_dataset(root: str, scale: float, empty: bool = False) -> str:
    """Write the tables under ``root`` once and return the directory.

    ``empty=True`` writes zero-row tables with the same schemas.  The
    directory is staged and renamed, so an interrupted write never
    leaves a partial dataset behind for a later run to reuse."""
    name = f"v{VERSION}-{'empty' if empty else f'scale{scale:g}'}"
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    staging = final + f".tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for tname, table in build_tables(scale).items():
        if empty:
            table = table.slice(0, 0)
        pq.write_table(table, os.path.join(staging, f"{tname}.parquet"))
    os.makedirs(root, exist_ok=True)
    try:
        os.rename(staging, final)
    except OSError:
        # another process won the race; its copy is identical
        shutil.rmtree(staging, ignore_errors=True)
    return final


def slices(seed: int, n_events: int, n_orders: int) -> dict[str, int]:
    """Seed → the slice of each table a run covers.

    - ``jdbc_start``: first event_id of the slice loaded into Derby.
    - ``rewind_key``: the ``backfill_upsert`` replay resumes after this
      o_orderkey.  It lies in [n/2, n/2 + 500), so every seed replays
      the same number of ticks.
    """
    rng = np.random.default_rng([seed, 7919])
    return {
        "jdbc_start": int(rng.integers(0, n_events - JDBC_ROWS)),
        "rewind_key": int(n_orders // 2 + rng.integers(0, 500)),
    }


# rows jdbc_500 drains per run (fixed for every seed, so the amount of
# work per run does not depend on the seed)
JDBC_ROWS = 6_000


def write_csv(src_dir: str, path: str, table: str, key: str, lo: int, hi: int) -> None:
    """The rows of ``table`` with ``lo < key <= hi`` as header-less CSV."""
    import pyarrow.compute as pc
    import pyarrow.csv as pcsv

    t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
    t = t.filter(pc.and_(pc.greater(t[key], lo), pc.less_equal(t[key], hi)))
    pcsv.write_csv(t, path, pcsv.WriteOptions(include_header=False))
