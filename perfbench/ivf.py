"""IVF round trip for the corpus workload, and its NumPy reference.

The engine trains the coarse quantizer (Lloyd iterations), writes the
cell-partitioned index to parquet and probes it. The reference repeats
the same arithmetic in NumPy. Training is checked with a tolerance:
the engine's per-(cell, dim) means are sums in partition order. The
probe is then recomputed from the engine's own centroids, with every
distance and dot product a left-to-right fold in float64 as in the
engine's array folds, so cell choices and rankings match exactly and
similarities match to the printed precision.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

N_CELLS = 16
N_PROBE = 4
TOP_K = 5
N_QUERIES = 32
ITERS = 2  # ivf_train's default


def build(spark, data_dir: str):
    """Train, write the index next to the input directory, and return
    the probe and the trained centroids. The index stays outside
    ``data_dir``: the suite's plan memo stamps that directory tree, and
    a write inside it would invalidate every memoized plan on each
    pass."""
    from go_pandas_spark.operators.similarity import (
        ivf_probe_topk, ivf_train, ivf_write_index)
    from go_pandas_spark.sources.io import read_parquet

    emb = read_parquet(spark, os.path.join(data_dir, "embeddings.parquet")).to_spark()
    cents = ivf_train(emb, n_cells=N_CELLS, iters=ITERS)
    path = os.path.join(os.path.dirname(data_dir), "ivf_index")
    ivf_write_index(emb, path, cents)
    queries = emb.orderBy("vec_id").limit(N_QUERIES)
    return ivf_probe_topk(spark, path, queries, cents, k=TOP_K, n_probe=N_PROBE), cents


def _fold(a: np.ndarray) -> np.ndarray:
    return np.cumsum(a, axis=-1)[..., -1]


def _load(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pandas()
    t = t.sort_values("vec_id", kind="stable").reset_index(drop=True)
    return t["vec_id"].to_numpy(), np.stack(t["embedding"].to_numpy()).astype(np.float64)


def _cells(x: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Squared distances to every centroid, and the nearest cell (the
    first one on a tie, as in the engine)."""
    dist = _fold((x[:, None, :] - cents[None, :, :]) ** 2)
    return dist, np.argmin(dist, axis=1)


def reference_train(x: np.ndarray) -> np.ndarray:
    """Lloyd's k-means as ``ivf_train`` runs it: the first ``N_CELLS``
    vectors by id, then ``ITERS`` rounds of assign and per-cell mean (a
    cell that gets no vector keeps its centroid)."""
    cents = x[:N_CELLS].copy()
    for _ in range(ITERS):
        cell = _cells(x, cents)[1]
        for c in range(N_CELLS):
            if (cell == c).any():
                cents[c] = x[cell == c].mean(axis=0)
    return cents


def reference_probe(ids: np.ndarray, x: np.ndarray, cents: np.ndarray) -> pd.DataFrame:
    dist, cell = _cells(x, cents)
    unit = x / np.sqrt(_fold(x * x))[:, None]
    rows = []
    for qi in range(min(N_QUERIES, len(ids))):
        q = x[qi]
        probed = np.lexsort((np.arange(len(cents)), dist[qi]))[:N_PROBE]
        cand = np.flatnonzero(np.isin(cell, probed) & (ids != ids[qi]))
        sim = _fold(unit[cand] * q) / np.sqrt(_fold(q * q))
        order = np.lexsort((ids[cand], -sim))[:TOP_K]
        for rank, j in enumerate(order, start=1):
            rows.append((int(ids[qi]), int(ids[cand[j]]), float(sim[j]), rank))
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "sim", "rank"])


def check(got: pd.DataFrame, cents: list[list[float]], data_dir: str) -> None:
    """Raise AssertionError unless the trained centroids and the probe
    equal the reference."""
    ids, x = _load(data_dir)
    trained = np.asarray(cents, dtype=np.float64)
    if trained.shape != (N_CELLS, x.shape[1]) or \
            not np.allclose(trained, reference_train(x), rtol=1e-9, atol=1e-12):
        raise AssertionError("ivf_roundtrip: trained centroids differ from the reference")
    exp = reference_probe(ids, x, trained)
    key = ["query_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    if len(got) != len(exp):
        raise AssertionError(f"ivf_roundtrip: {len(got)} rows, reference {len(exp)}")
    for c in ("query_id", "vec_id", "rank"):
        if not (got[c].to_numpy() == exp[c].to_numpy()).all():
            raise AssertionError(f"ivf_roundtrip: column {c!r} differs from the reference")
    if not np.allclose(got["sim"].to_numpy(), exp["sim"].to_numpy(), rtol=0, atol=1e-6):
        raise AssertionError("ivf_roundtrip: similarities differ from the reference")
