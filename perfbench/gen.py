"""Seeded input generation. The same seed gives byte-identical inputs.

Tables use the column names of the package's TPC-H-ish test data so the
registered queries and pipelines run on them unchanged. Dates are DATE
(parquet date32), not timestamps: a naive parquet timestamp reads back as
TIMESTAMP_NTZ, which ``sources/iceberg.py``'s ``spark_to_iceberg_schema``
rejects, and DATE needs no time-zone agreement between Spark and DuckDB.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data spark table row column key value scan filter join agg group "
    "sort hash merge order line part customer query stream batch window "
    "vector fast slow big small"
).split()
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
_EPOCH = dt.date(1992, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the package's own test data
    pq.write_table(table, path, row_group_size=1 << 30)


def _dates(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    days = (_EPOCH - dt.date(1970, 1, 1)).days + rng.integers(0, span_days, n)
    return pa.array(days.astype("int32"), pa.date32())


def make_tpch(out_dir: str, seed: int, sf: float) -> None:
    """customer, orders and lineitem at scale factor ``sf`` (sf0.1:
    15k customers, 150k orders, ~600k line items)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(1, n_cust + 1, dtype="int64")
    _write(
        pa.table(
            {
                "c_custkey": ck,
                "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": segs[rng.integers(0, len(segs), n_cust)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    ok = np.arange(1, n_ord + 1, dtype="int64") * 4
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    nlines = rng.integers(1, 8, n_ord)
    n_li = int(nlines.sum())
    l_ok = np.repeat(ok, nlines)
    starts = np.cumsum(nlines) - nlines
    l_no = (np.arange(n_li) - np.repeat(starts, nlines) + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    totals = np.bincount(
        np.repeat(np.arange(n_ord), nlines), weights=price * (1 - disc) * (1 + tax)
    )
    _write(
        pa.table(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype("int64"),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(totals, 2),
                "o_orderdate": _dates(rng, n_ord, 2400),
                "o_orderpriority": prios[rng.integers(0, len(prios), n_ord)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": l_ok,
                "l_partkey": rng.integers(1, int(200_000 * sf) + 1, n_li).astype("int64"),
                "l_suppkey": rng.integers(1, int(10_000 * sf) + 1, n_li).astype("int64"),
                "l_linenumber": l_no,
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": disc,
                "l_tax": tax,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, n_li, 2500),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )


def make_documents(out_dir: str, seed: int, n: int) -> None:
    """A corpus with planted near-duplicates: one doc in ten copies an
    earlier doc with a word changed, one in twenty is a prefix of one, so
    the dedup, containment and LSH paths find real candidates."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        elif i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            words = words[: max(3, int(len(words) * rng.uniform(0.5, 0.9)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype="int64")
    _write(
        pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
                "source": [f"src{k % 20}" for k in ids],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


def make_embeddings(out_dir: str, seed: int, n: int, dim: int = 64) -> None:
    """Ten Gaussian clusters in ``dim`` dimensions, float32."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0.0, 0.2, (10, dim))
    label = rng.integers(0, 10, n)
    emb = (centers[label] + rng.normal(0.0, 0.08, (n, dim))).astype("float32")
    _write(
        pa.table(
            {
                "vec_id": np.arange(n, dtype="int64"),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": label.astype("int32"),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


#: Kinds of the upsert op stream, in order: 9 appends, 2 merge-upserts and
#: 1 predicate delete; the 11th commit writes Delta's first checkpoint.
#: The schedule is fixed so that every seed does the same shape of work;
#: the seed chooses the rows, keys and predicates. With eight warm appends
#: among twelve writes, the write median falls inside the appends rather
#: than on the edge between them and the slower merges and delete.
UPSERT_SCHEDULE = "A A M A A A D A A M A A".split()
#: rows per appended or merged batch
UPSERT_BATCH = 1000


def upsert_ops(seed: int) -> list[tuple]:
    """A seeded op stream over one table keyed by ``id``, one op per entry
    of ``UPSERT_SCHEDULE``.

    Returns ``(kind, arg)`` tuples: ``("append", pandas frame)`` of new
    keys, ``("merge", frame)`` of which half the keys already exist, and
    ``("delete", (grp, residue))`` for ``grp = g AND id % 7 = r``.
    """
    import pandas as pd

    rng = np.random.default_rng([seed, 4])
    kinds = {"A": "append", "M": "merge", "D": "delete"}
    next_id = 0
    ops: list[tuple] = []
    batch = UPSERT_BATCH
    for i, letter in enumerate(UPSERT_SCHEDULE):
        kind = kinds[letter]
        if kind == "delete":
            ops.append(("delete", (int(rng.integers(0, 8)), int(rng.integers(0, 7)))))
            continue
        if kind == "append":
            ids = np.arange(next_id, next_id + batch, dtype="int64")
        else:
            old = rng.choice(next_id, batch // 2, replace=False).astype("int64")
            ids = np.concatenate([old, np.arange(next_id, next_id + batch - len(old), dtype="int64")])
        next_id = int(ids.max()) + 1
        frame = pd.DataFrame(
            {
                "id": ids,
                "grp": rng.integers(0, 8, len(ids)).astype("int32"),
                "amount": np.round(rng.uniform(0, 1000, len(ids)), 2),
                "note": [f"n{int(x)}-{i}" for x in rng.integers(0, 1_000_000, len(ids))],
                "day": [_EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, 3000, len(ids))],
            }
        )
        ops.append((kind, frame))
    return ops
