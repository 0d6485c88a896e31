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
from .features import (
    batch_doc_features,
    doc_features,
    minhash_params,
    u64_to_i64,
)

# ---------------------------------------------------------------------------
# fixed schemas (§1.2: every stage declares its StructType, never inferred)
# ---------------------------------------------------------------------------
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
    ]
)

#: fused stage-1+2 output: the signature bundle plus this document's
#: bucket rows as four parallel arrays (JVM-side arrays_zip + explode
#: turns them into bucket rows — stages.buckets_from_fused)
FUSED_SCHEMA = T.StructType(
    list(SIGNATURES_SCHEMA.fields)
    + [
        T.StructField("b_band", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("b_key", T.ArrayType(T.LongType(), False), False),
        T.StructField("b_probe", T.ArrayType(T.BooleanType(), False), False),
        T.StructField("b_rank", T.ArrayType(T.IntegerType(), False), False),
    ]
)

SUBSTR_SCHEMA = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("substr_ok", T.BooleanType(), False),
    ]
)


# ---------------------------------------------------------------------------
# U1 — signatures: (url, text) -> full signature bundle
# ---------------------------------------------------------------------------
def _sig_columns(pdf: pd.DataFrame, cfg: DedupConfig, a, b):
    """Signature columns for one Arrow batch, plus the raw uint64
    minhash/runnerup matrices (the fused stage-2 path derives bucket keys
    from them without re-crossing the Arrow boundary).

    The scale path (char shingles + OPH, the DEFAULT config) runs the
    whole batch through `features.batch_doc_features` — one vectorized
    NumPy pass per feature family across ALL documents of the batch
    instead of a per-document Python loop (VERDICT r2 perf item). Other
    modes (word shingles, classic kxu MinHash) keep the per-doc kernel;
    outputs are bit-identical either way (tests/test_batchkernel.py).

    Returns (columns dict, minh uint64 (n, K), runner uint64 (n, K)) or
    None when every row of the batch is filtered (P2)."""
    if cfg.shingle_mode == "char" and cfg.minhash_scheme == "oph":
        bf = batch_doc_features(pdf["text"].tolist(), cfg, a, b)
        if bf is None:
            return None
        cols = {
            "url": pd.Series(pdf["url"].to_numpy()[bf.keep], dtype=object),
            "minhash": pd.Series(list(bf.minhash.view(np.int64)), dtype=object),
            "runnerup": pd.Series(
                list(bf.runnerup.view(np.int64)), dtype=object
            ),
            "simhash": pd.Series(bf.simhash.view(np.int64), dtype=np.int64),
            "n_shingles": pd.Series(bf.n_shingles, dtype=np.int32),
            "n_tokens": pd.Series(bf.n_tokens, dtype=np.int32),
            "text_sha": pd.Series(bf.text_sha, dtype=object),
            "fingerprints": pd.Series(
                [u64_to_i64(f) for f in bf.fingerprints], dtype=object
            ),
        }
        return cols, bf.minhash, bf.runnerup
    urls, minhs, runs, sims, nsh, ntok, shas, fps = [], [], [], [], [], [], [], []
    for url, text in zip(pdf["url"].to_numpy(), pdf["text"].to_numpy()):
        f = doc_features(text, cfg, a, b)
        if f is None:
            continue  # P2 filter: null/too-short text never signs
        urls.append(url)
        minhs.append(f.minhash)
        runs.append(f.runnerup)
        sims.append(np.int64(np.uint64(f.simhash)))
        nsh.append(f.n_shingles)
        ntok.append(f.n_tokens)
        shas.append(f.text_sha)
        fps.append(u64_to_i64(f.fingerprints))
    if not urls:
        return None
    minh_mat = np.stack(minhs)
    run_mat = np.stack(runs)
    cols = {
        "url": pd.Series(urls, dtype=object),
        "minhash": pd.Series(list(minh_mat.view(np.int64)), dtype=object),
        "runnerup": pd.Series(list(run_mat.view(np.int64)), dtype=object),
        "simhash": pd.Series(sims, dtype=np.int64),
        "n_shingles": pd.Series(nsh, dtype=np.int32),
        "n_tokens": pd.Series(ntok, dtype=np.int32),
        "text_sha": pd.Series(shas, dtype=object),
        "fingerprints": pd.Series(fps, dtype=object),
    }
    return cols, minh_mat, run_mat


def _bucket_arrays(
    minh: np.ndarray, run: np.ndarray, cfg: DedupConfig, keys=None
):
    """Per-document bucket-entry arrays (band, key, is_probe, rank) for a
    batch: home keys for the whole batch in one vectorized call
    (band_keys_batch) + the [MPLSH §4.1] probe keys (probe_keys_batch),
    grouped per doc so the fused stage-1+2 UDF can emit them as array
    columns (stage 2 is then one JVM explode, stages.buckets_from_fused).

    `keys` (optional): per-doc text_sha. Equal key => equal text => equal
    signature => identical bucket entries, so the probe-sequence heap —
    the costliest per-doc step of the whole pipeline — runs once per
    DISTINCT document and fans out (exact; duplicates dominate dedup
    corpora by definition)."""
    n = minh.shape[0]
    if keys is not None and n:
        codes, uniques = pd.factorize(np.asarray(keys, dtype=object))
        if len(uniques) < n:
            _, first = np.unique(codes, return_index=True)
            ub = _bucket_arrays(minh[first], run[first], cfg)
            return tuple([comp[c] for c in codes] for comp in ub)
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
    """mapInPandas fn for the fused stage 1+2: signature bundle plus this
    doc's bucket entries as four parallel arrays (FUSED_SCHEMA). One Arrow
    pass computes both stages' outputs; stage 2 becomes a JVM-side explode
    of the cached fused relation (stages.buckets_from_fused). The (a, b)
    MinHash coefficients are derived from cfg.seed inside each worker
    (cheap, deterministic) rather than broadcast."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = minhash_params(cfg)
        for pdf in batches:
            out = _sig_columns(pdf, cfg, a, b)
            if out is None:
                continue
            cols, minh, run = out
            bb, bk, bp, br = _bucket_arrays(
                minh, run, cfg, keys=cols["text_sha"].tolist()
            )
            cols["b_band"] = pd.Series(bb, dtype=object)
            cols["b_key"] = pd.Series(bk, dtype=object)
            cols["b_probe"] = pd.Series(bp, dtype=object)
            cols["b_rank"] = pd.Series(br, dtype=object)
            yield pd.DataFrame(cols)

    return fn


# NOTE: pair explosion (former U3) is NOT a UDF — it runs JVM-side as a
# double explode over the collected member lists (stages.stage3_candidates),
# staying inside whole-stage codegen. Kept out of Python deliberately.


# ---------------------------------------------------------------------------
# U4 — substring verification for winnow-sourced pairs
# ---------------------------------------------------------------------------
def make_substr_fn(cfg: DedupConfig):
    """mapInPandas fn: (url_a, url_b, text_a, text_b) -> substr_ok.
    Runs on every winnow-sourced candidate pair (stage 4), including
    pairs the cheap rules already decided: stages.stage4_verify derives
    its input from the candidates, not from the scored pairs, so the
    join subtree is not evaluated twice, and masks the result with
    ~cheap_dup afterwards. The O(len_a + len_b) check therefore runs on
    a superset of the undecided pairs."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = [
                H.has_common_substring(
                    H.normalize(ta), H.normalize(tb), cfg.min_substr
                )
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pd.DataFrame(
                {
                    "url_a": pdf["url_a"],
                    "url_b": pdf["url_b"],
                    "substr_ok": pd.Series(ok, dtype=bool),
                }
            )

    return fn
