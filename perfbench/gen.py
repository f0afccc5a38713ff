"""Seeded input generators. Every input the benchmark feeds the engine is
made here from the run's ``--seed``; the engine only ever sees the paths.

- ``points_file``: the reference's ``x,y``-per-line text format, points
  drawn from Gaussian blobs (``lloyd_large``).
- ``star_tables``: the star-schema, ``documents`` and ``embeddings``
  tables the ``query_mix`` entries read, with the column names, physical
  types and value domains of the engine's test tables (FIXTURES.md §2).
  ``embeddings`` (``vec_id BIGINT``, ``embedding array<float>``,
  ``label INT``) is a 64-dim Gaussian mixture.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def blob_points(rng: np.random.Generator, n: int, k: int, spread: float,
                scale: float) -> np.ndarray:
    """``n`` 2-D points from ``k`` Gaussian blobs whose centres lie in
    ``[-scale, scale]^2``; rows are shuffled so the first K lines (the
    reference's initial centroids) come from arbitrary blobs."""
    centres = rng.uniform(-scale, scale, size=(k, 2))
    labels = rng.integers(0, k, size=n)
    pts = centres[labels] + rng.normal(0.0, spread, size=(n, 2))
    return np.round(pts, 6)


def points_file(path: str, pts: np.ndarray) -> str:
    """Write ``pts`` one ``x,y`` pair per line, no header."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savetxt(path, pts, fmt="%.6f", delimiter=",")
    return path


def embeddings_table(path: str, seed: int, n: int, dim: int = 64,
                     n_labels: int = 12) -> str:
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    vecs = (centres[labels] + rng.normal(0.0, 0.6, size=(n, dim))).astype(
        np.float32
    )
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


_WORDS = (
    "a the spark line column order small sort fast value scan hash slow "
    "group batch agg filter query big key window row part table stream "
    "merge data join vector customer"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["de", "en", "es", "fr", "zh"]

_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 in microseconds
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # Near-duplicate of an earlier document: a few words edited,
            # so the dedup and novelty entries find real pairs.
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
        else:
            length = int(rng.integers(8, 70))
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), length)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, 5, n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def star_tables(out_dir: str, seed: int, n_orders: int, n_docs: int,
                n_embeddings: int) -> str:
    """Write the tables the query-mix entries read, for one seed, into
    ``out_dir`` (one ``<name>.parquet`` each) and return ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = max(n_orders // 10, 50), max(n_orders // 8, 50), 40
    n_li = n_orders * 4
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(
                [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]
            ),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(
                [("O", "F", "P")[j] for j in rng.integers(0, 3, n_orders)]
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000, 450000, n_orders), 2)
            ),
            "o_orderdate": _ts(
                _EPOCH_1992_US
                + rng.integers(0, 3650, n_orders) * _DAY_US
            ),
            "o_orderpriority": pa.array(
                [_PRIORITIES[j] for j in rng.integers(0, 5, n_orders)]
            ),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 105000, n_li), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(
                [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]
            ),
            "l_linestatus": pa.array(
                [("O", "F")[j] for j in rng.integers(0, 2, n_li)]
            ),
            "l_shipdate": _ts(
                _EPOCH_1992_US + rng.integers(0, 3650, n_li) * _DAY_US
            ),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    embeddings_table(
        os.path.join(out_dir, "embeddings.parquet"), seed + 1, n_embeddings
    )
    return out_dir
