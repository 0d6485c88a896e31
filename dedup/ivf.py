"""IVF (inverted-file) approximate nearest neighbors over embeddings —
the centroid-partitioned counterpart to the LSH-bucketed ANN paths
(dedup/mplsh.py, __spark_entry__._ann_hyperplane).

Public lineage: the inverted-file index of Sivic & Zisserman 2003
("Video Google") as used for ANN by Jégou et al. 2011 (IVF in
product-quantization search): partition the vector space with k-means
centroids, store each vector in its nearest centroid's posting list, and
answer a query by scanning only the lists of its n_probe nearest
centroids, then re-ranking candidates by exact distance.

Spark mapping (dedup/mplsh.py's shapes; the bucket join is its
`bucket_topk` over centroid-id keys):
  - centroid TRAINING runs single-process NumPy on a small deterministic
    sample (vec_id < sample_cap) collected to the driver — at any scale
    the training sample is bounded and tiny next to the corpus, which is
    the standard IVF recipe (centroids are a model, not data);
  - ASSIGNMENT is a vectorized Arrow batch per partition (one matmul per
    batch, no per-row Python) producing a narrow (vec_id, cid) relation —
    the inverted file as a DataFrame;
  - QUERY probes explode to (query_id, cid) rows, n_probe per query; the
    bucket join is centroid-local, the hot-list cap (count -> semi-join,
    the stage-3 pattern) bounds any one posting list, and the exact
    re-rank joins embeddings back as pure JVM expressions.

100 TB story: candidate volume per query is ~ n * n_probe / k, tunable
independently of recall via (k, n_probe); k grows ~sqrt(n) in production
so both the posting lists and the per-query work shrink as the index
grows. No crossJoin anywhere; shuffle volume is O(index rows + probe
rows + candidate pairs).

The NumPy kernels (train_centroids / assign / probe_lists) are shared
verbatim by the Spark UDFs and the single-process reference search —
the parity-anchor pattern of dedup/hashing.py and dedup/mplsh.py. The
DuckDB twin for the `ivf_knn` contract query SELECTs the materialized
reference output (dedup/contract_oracle.py `ivf_topk`), since k-means
training is not SQL-expressible.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .mplsh import KEY_SCHEMA, bucket_topk


@dataclass(frozen=True)
class IvfConfig:
    """Defaults tuned for the driver's `embeddings` fixture (n=500-2000,
    unit-norm, diffuse). Production: k ~ sqrt(n), sample_cap ~ 50*k."""

    dim: int = 64
    k_centroids: int = 16
    n_iters: int = 10        # Lloyd iterations (fixed count: deterministic)
    n_probe: int = 4         # posting lists scanned per query
    seed: int = 42
    sample_cap: int = 256    # training sample = vectors with vec_id < cap
    max_list: int = 4096     # hot-list cap (count -> semi-join drop)


def train_centroids(S: np.ndarray, cfg: IvfConfig) -> np.ndarray:
    """Deterministic Lloyd k-means over the training sample S (n, dim).

    Init: a seeded no-replacement draw of k rows. Each iteration assigns
    every sample row to its nearest centroid (ties -> lowest centroid id,
    np.argmin) and recomputes means; a centroid whose list empties keeps
    its previous position (deterministic, no resampling). A fixed
    iteration count instead of a convergence test keeps the output a pure
    function of (S, cfg) — the Spark path and the reference must agree
    bit-for-bit."""
    rng = np.random.default_rng(cfg.seed)
    k = min(cfg.k_centroids, S.shape[0])
    C = S[np.sort(rng.choice(S.shape[0], size=k, replace=False))].copy()
    for _ in range(cfg.n_iters):
        a = assign(S, C)
        for j in range(k):
            members = S[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def assign(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest-centroid id per row of X — one matmul per batch.

    Full squared distance |x|^2 - 2 x.c + |c|^2 with the |x|^2 term kept
    (cheap at batch size, and keeps the argmin key identical between the
    reference and every Arrow batch regardless of batch split points)."""
    d2 = (
        (X * X).sum(axis=1, keepdims=True)
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)
    )
    return np.argmin(d2, axis=1).astype(np.int64)


def probe_lists(X: np.ndarray, C: np.ndarray, n_probe: int) -> np.ndarray:
    """(n, n_probe) centroid ids, nearest first; distance ties break by
    centroid id (stable argsort)."""
    d2 = (
        (X * X).sum(axis=1, keepdims=True)
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)
    )
    return np.argsort(d2, axis=1, kind="stable")[:, : min(n_probe, C.shape[0])]


# ---------------------------------------------------------------------------
# single-process reference search (tests' parity anchor + DuckDB twin source)
# ---------------------------------------------------------------------------
def reference_candidates(
    X: np.ndarray, ids: np.ndarray, cfg: IvfConfig, query_mask: np.ndarray
) -> list[set[int]]:
    """Per query row (where query_mask): the candidate row-index set its
    probed posting lists contain, hot lists dropped — the exact set the
    Spark join must produce. The training sample is selected BY ID VALUE
    (ids < sample_cap), matching the Spark side's pushed-down filter."""
    sel = np.nonzero(ids < cfg.sample_cap)[0]
    S = X[sel[np.argsort(ids[sel], kind="stable")]]
    C = train_centroids(S, cfg)
    a = assign(X, C)
    counts = np.bincount(a, minlength=C.shape[0])
    ok = counts <= cfg.max_list
    lists: dict[int, np.ndarray] = {
        j: np.nonzero(a == j)[0] for j in range(C.shape[0]) if ok[j]
    }
    probes = probe_lists(X, C, cfg.n_probe)
    out: list[set[int]] = []
    for i in np.nonzero(query_mask)[0]:
        cs: set[int] = set()
        for j in probes[i]:
            cs.update(lists.get(int(j), ()))
        cs.discard(int(i))
        out.append(cs)
    return out


def reference_topk_frame(emb_pdf, cfg: IvfConfig, k: int = 5, n_queries: int = 5):
    """Reference answer as a pandas frame (query_id, neighbor_id,
    dist_exact) for queries with vec_id < n_queries — the shape
    contract_oracle materializes for the DuckDB twin. Assumes emb_pdf rows
    are sorted by vec_id (the training sample is ids < sample_cap)."""
    import pandas as pd

    emb_pdf = emb_pdf.sort_values("vec_id", ignore_index=True)
    ids = emb_pdf["vec_id"].to_numpy()
    X = np.array(emb_pdf["embedding"].tolist(), dtype=np.float64)
    cands = reference_candidates(X, ids, cfg, ids < n_queries)
    rows = []
    for qpos, i in enumerate(np.nonzero(ids < n_queries)[0]):
        cs = cands[qpos]
        if not cs:
            continue
        cl = np.array(sorted(cs))
        d2 = ((X[cl] - X[i]) ** 2).sum(axis=1)
        order = np.lexsort((ids[cl], d2))[:k]
        for j in order:
            rows.append(
                {
                    "query_id": int(ids[i]),
                    "neighbor_id": int(ids[cl[j]]),
                    "dist_exact": float(np.sqrt(d2[j])),
                }
            )
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "dist_exact"])


# ---------------------------------------------------------------------------
# Spark building blocks (shared by ivf_topk and dedup/semdedup.py)
# ---------------------------------------------------------------------------
def train_from_df(emb_df, cfg: IvfConfig) -> np.ndarray:
    """Centroids from the bounded driver-side training sample: rows with
    vec_id < sample_cap, collected and sorted by vec_id so the sample
    matrix — and therefore the model — is independent of scan order."""
    from pyspark.sql import functions as F

    sample = sorted(
        emb_df.select("vec_id", "embedding")
        .filter(F.col("vec_id") < cfg.sample_cap)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    S = np.array([r["embedding"] for r in sample], dtype=np.float64)
    return train_centroids(S, cfg)


def assign_df(emb_df, C: np.ndarray):
    """(vec_id, embedding) -> (vec_id, cid): nearest-centroid assignment,
    one vectorized Arrow matmul per batch against the broadcast-captured
    centroid model."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("cid", T.LongType(), False),
        ]
    )

    def assign_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cid": assign(X, C)}
            )

    return emb_df.select("vec_id", "embedding").mapInPandas(assign_fn, schema)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------
def ivf_topk(emb_df, cfg: IvfConfig, k: int = 5, query_filter=None):
    """embeddings(vec_id, embedding) -> (query_id, neighbor_id, dist):
    top-k approximate neighbors per query via an inverted-file index.

    The training sample (vec_id < sample_cap) is collected to the driver
    — bounded, seed-deterministic, and sorted by vec_id so the sample
    matrix is independent of scan order. Everything after that is the
    narrow Arrow projections to (vec_id, key) rows, the key being a
    centroid id, and mplsh.bucket_topk: hot-list cap before the join,
    distinct candidate pairs, JVM exact re-rank.
    """
    import pandas as pd

    narrow = emb_df.select("vec_id", "embedding")
    C = train_from_df(narrow, cfg)

    def query_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            probes = probe_lists(X, C, cfg.n_probe)
            n_p = probes.shape[1]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_p),
                    "key": probes.ravel(),
                }
            )

    qsrc = narrow if query_filter is None else narrow.filter(query_filter)
    return bucket_topk(
        emb_df,
        assign_df(narrow, C).withColumnRenamed("cid", "key"),
        qsrc.mapInPandas(query_fn, KEY_SCHEMA),
        cfg.max_list,
        k,
    )
