"""Vectorized pandas/Arrow UDFs (SURVEY.md §2.8 U1-U4).

Every function here wraps the SAME NumPy kernels the oracle uses
(dedup/hashing.py, dedup/features.py), so stage outputs agree with
`dedup/oracle.py` bit-for-bit by construction (SURVEY.md §0.2). All UDFs
are iterator-of-batches `mapInPandas` — data crosses the JVM/Python
boundary as Arrow record batches only; there is no per-row Python UDF
anywhere (BASELINE.json:15 hard constraint).

uint64 note: Spark's LongType is two's-complement int64. All 64-bit hash
values are computed in uint64 and reinterpreted with .view(np.int64)
(features.u64_to_i64) at the boundary — bit pattern preserved, comparisons
for equality still exact, and DuckDB/parquet round-trips are lossless.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import types as T

from . import hashing as H
from .config import DedupConfig
from .features import batch_doc_features, minhash_params, u64_to_i64

# ---------------------------------------------------------------------------
# fixed schemas (§1.2: every stage declares its StructType, never inferred)
# ---------------------------------------------------------------------------
#: the committed `signatures` table: the stage-1 signature bundle plus
#: this document's stage-2 bucket entries as four parallel arrays (a JVM
#: arrays_zip + explode turns them into bucket rows wherever a consumer
#: needs rows — stages.buckets_from_fused)
BUCKET_COLS = ("b_band", "b_key", "b_probe", "b_rank")
SIGNATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("minhash", T.ArrayType(T.LongType(), False), False),
        T.StructField("runnerup", T.ArrayType(T.LongType(), False), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("n_shingles", T.IntegerType(), False),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("text_sha", T.StringType(), False),
        T.StructField("fingerprints", T.ArrayType(T.LongType(), False), False),
        T.StructField("b_band", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("b_key", T.ArrayType(T.LongType(), False), False),
        T.StructField("b_probe", T.ArrayType(T.BooleanType(), False), False),
        T.StructField("b_rank", T.ArrayType(T.IntegerType(), False), False),
    ]
)

#: make_substr_fn's output: the scored pair columns it passes through,
#: then substr_ok (the texts it read are dropped)
SUBSTR_SCHEMA = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("hamming", T.LongType(), True),
        T.StructField("sha_equal", T.BooleanType(), True),
        T.StructField("cheap_dup", T.BooleanType(), True),
        T.StructField("sources", T.StringType(), True),
        T.StructField("substr_ok", T.BooleanType(), False),
    ]
)


# ---------------------------------------------------------------------------
# U1+U2 — signatures with their bucket entries: (url, text) -> one row
# ---------------------------------------------------------------------------
def _bucket_arrays(minh: np.ndarray, run: np.ndarray, cfg: DedupConfig):
    """Per-document bucket-entry arrays (band, key, is_probe, rank) for a
    batch: home keys for the whole batch in one vectorized call
    (band_keys_batch) + the [MPLSH §4.1] probe keys (probe_keys_batch),
    grouped per doc so the stage-1+2 UDF can emit them as array columns
    (bucket rows are then one JVM explode, stages.buckets_from_fused)."""
    n = minh.shape[0]
    bands = cfg.bands
    home = H.band_keys_batch(minh, bands, cfg.rows_per_band).view(np.int64)
    if cfg.probes > 1:
        doc_idx, p_band, p_rank, p_key = H.probe_keys_batch(
            minh, run, bands, cfg.rows_per_band, cfg.probes
        )
    else:
        doc_idx = np.empty(0, dtype=np.int64)
        p_band = p_rank = doc_idx
        p_key = np.empty(0, dtype=np.uint64)
    pcnt = np.bincount(doc_idx, minlength=n)
    cnt = bands + pcnt  # entries per doc (home rows first, then probes)
    offs = np.cumsum(cnt) - cnt
    total = int(cnt.sum())
    fb = np.empty(total, dtype=np.int32)
    fk = np.empty(total, dtype=np.int64)
    fp_ = np.zeros(total, dtype=bool)
    fr = np.zeros(total, dtype=np.int32)
    idx_home = np.repeat(offs, bands) + np.tile(
        np.arange(bands, dtype=np.int64), n
    )
    fb[idx_home] = np.tile(np.arange(bands, dtype=np.int32), n)
    fk[idx_home] = home.ravel()
    if doc_idx.size:
        # doc_idx is nondecreasing (probe_keys_batch iterates docs in order)
        within = np.arange(doc_idx.size, dtype=np.int64) - np.repeat(
            np.cumsum(pcnt) - pcnt, pcnt
        )
        ppos = offs[doc_idx] + bands + within
        fb[ppos] = p_band.astype(np.int32)
        fk[ppos] = p_key.view(np.int64)
        fp_[ppos] = True
        fr[ppos] = p_rank.astype(np.int32)
    bounds = np.cumsum(cnt)[:-1]
    return (
        np.split(fb, bounds),
        np.split(fk, bounds),
        np.split(fp_, bounds),
        np.split(fr, bounds),
    )


def make_fused_fn(cfg: DedupConfig):
    """mapInPandas fn for stages 1+2 (SIGNATURES_SCHEMA): each kept row's
    signature bundle plus its bucket entries as four parallel arrays, in
    one Arrow pass. Identical texts are signed ONCE per batch and fanned
    back out: every output column but `url` is a pure function of the
    text, and exact duplicates are the norm in the corpora this engine
    exists for (the replicated bench corpus is ~94% identical text; real
    web crawls run 30-60%), so the dedup removes the dominant share of
    kernel work — the probe-sequence heap included — with no
    approximation. Rows whose text is null or filtered (P2) emit nothing;
    the rest keep their input order. The (a, b) MinHash coefficients are
    derived from cfg.seed inside each worker (cheap, deterministic)
    rather than broadcast."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = minhash_params(cfg)
        for pdf in batches:
            codes, texts = pd.factorize(pdf["text"])  # null text -> -1
            bf = batch_doc_features(list(texts), cfg, a, b)
            if bf is None:
                continue
            # each input row's row in bf, or -1 when it does not sign (the
            # extra last slot answers code -1)
            urow = np.full(len(texts) + 1, -1, dtype=np.int64)
            urow[bf.keep] = np.arange(bf.keep.size, dtype=np.int64)
            rows = urow[codes]
            keep = np.nonzero(rows >= 0)[0]
            sel = rows[keep]
            out = pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy()[keep],
                    "minhash": list(bf.minhash.view(np.int64)[sel]),
                    "runnerup": list(bf.runnerup.view(np.int64)[sel]),
                    "simhash": bf.simhash.view(np.int64)[sel],
                    "n_shingles": bf.n_shingles[sel].astype(np.int32),
                    "n_tokens": bf.n_tokens[sel].astype(np.int32),
                    "text_sha": [bf.text_sha[r] for r in sel],
                    "fingerprints": [u64_to_i64(bf.fingerprints[r]) for r in sel],
                }
            )
            arrays = _bucket_arrays(bf.minhash, bf.runnerup, cfg)
            for col, per_text in zip(BUCKET_COLS, arrays):
                out[col] = [per_text[r] for r in sel]
            yield out

    return fn


# NOTE: pair explosion (former U3) is NOT a UDF — it runs JVM-side as a
# double explode over the collected member lists (stages.stage3_candidates),
# staying inside whole-stage codegen. Kept out of Python deliberately.


# ---------------------------------------------------------------------------
# U4 — substring verification for winnow-sourced pairs
# ---------------------------------------------------------------------------
def make_substr_fn(cfg: DedupConfig):
    """mapInPandas fn over stage 4's scored pairs: substr_ok is the
    normalized common-substring check (>= cfg.min_substr) where the pair
    carries both texts, else False. stages.stage4_verify attaches texts
    only to winnow-sourced pairs the cheap rules left undecided, so the
    O(len_a + len_b) check runs on exactly those; every other pair
    passes through unchanged (SUBSTR_SCHEMA)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = [
                ta is not None
                and tb is not None
                and H.has_common_substring(
                    H.normalize(ta), H.normalize(tb), cfg.min_substr
                )
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            out = pdf.drop(columns=["text_a", "text_b"])
            yield out.assign(substr_ok=pd.Series(ok, dtype=bool, index=out.index))

    return fn
