"""The batched stage-1 kernel (features.batch_doc_features) must produce
bit-identical outputs to the per-document reference kernel
(features.doc_features) — the oracle keeps using the per-doc path, so
this equality is what carries oracle parity over to the vectorized
production path. The stage-1+2 Arrow function (udfs.make_fused_fn) signs
each distinct text of a batch once, and a fresh run calls it once per
document."""

import os

import numpy as np
import pandas as pd

from dedup import hashing as H
from dedup.config import DEFAULT
from dedup.features import (
    batch_doc_features,
    doc_features,
    minhash_params,
    u64_to_i64,
)

EDGE_TEXTS = [
    None,                                   # dropped (null)
    "",                                     # dropped (too short)
    "ab",                                   # dropped (norm < min_text_len)
    "hello",                                # exactly min length, one token
    "Hello   WORLD \t this is   a test document with some words",
    "的是一个测试文档没有空格所以整个文档是一个超长词元" * 40,  # one giant token
    "short doc",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",  # many 1-char tokens
    "x" * 31,                               # shorter than one 32-gram
    "y" * 32,                               # exactly one 32-gram
    "the quick brown fox jumps over the lazy dog " * 30,  # repetitive
    "Ünïcødé tëxt with áccents and emoji \U0001f600 mixed in for bytes",
]


def _reference(texts, cfg):
    a, b = minhash_params(cfg)
    out = []
    for i, t in enumerate(texts):
        f = doc_features(t, cfg, a, b)
        if f is not None:
            out.append((i, f))
    return out


def _assert_equal(texts, cfg):
    a, b = minhash_params(cfg)
    bf = batch_doc_features(texts, cfg, a, b)
    ref = _reference(texts, cfg)
    if bf is None:
        assert ref == []
        return
    assert bf.keep.tolist() == [i for i, _ in ref]
    for row, (_, f) in enumerate(ref):
        np.testing.assert_array_equal(bf.minhash[row], f.minhash)
        np.testing.assert_array_equal(bf.runnerup[row], f.runnerup)
        assert int(bf.simhash[row]) == f.simhash
        assert int(bf.n_shingles[row]) == f.n_shingles
        assert int(bf.n_tokens[row]) == f.n_tokens
        assert bf.text_sha[row] == f.text_sha
        np.testing.assert_array_equal(bf.fingerprints[row], f.fingerprints)


def test_edge_cases_match_per_doc_kernel():
    _assert_equal(EDGE_TEXTS, DEFAULT)


def test_synth_corpus_matches_per_doc_kernel(corpus_smoke):
    _assert_equal(corpus_smoke.pages["text"].tolist(), DEFAULT)


def test_all_rows_filtered_returns_none():
    a, b = minhash_params(DEFAULT)
    assert batch_doc_features([None, "", "ab"], DEFAULT, a, b) is None


def test_other_modes_match_per_doc_kernel():
    """Classic kxu MinHash and word shingles stack the per-doc kernel."""
    _assert_equal(EDGE_TEXTS, DEFAULT.with_(minhash_scheme="kxu"))
    _assert_equal(EDGE_TEXTS, DEFAULT.with_(shingle_mode="word"))


def test_fused_fn_signs_each_distinct_text_once(monkeypatch):
    """One batch holding duplicate, too-short and null texts: the output
    rows are the kept input rows in order, each row is its document's
    doc_features plus the oracle's home and probe keys, and the batch
    kernel receives each distinct text once."""
    from dedup import udfs

    seen = []
    real = udfs.batch_doc_features

    def spy(texts, *args):
        seen.append(list(texts))
        return real(texts, *args)

    monkeypatch.setattr(udfs, "batch_doc_features", spy)
    doc_a, doc_b, doc_c = EDGE_TEXTS[4], EDGE_TEXTS[10], EDGE_TEXTS[11]
    texts = [doc_a, "ab", doc_b, None, doc_a, doc_c, doc_b, doc_a]
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(texts))], "text": texts})
    out = pd.concat(list(udfs.make_fused_fn(DEFAULT)(iter([pdf]))), ignore_index=True)

    assert len(seen) == 1
    assert sorted(seen[0]) == sorted({t for t in texts if t is not None})
    kept = [i for i, t in enumerate(texts) if t not in (None, "ab")]
    assert out["url"].tolist() == [f"u{i}" for i in kept]
    cfg = DEFAULT
    a, b = minhash_params(cfg)
    for row, i in zip(out.itertuples(index=False), kept):
        f = doc_features(texts[i], cfg, a, b)
        assert list(row.minhash) == u64_to_i64(f.minhash).tolist()
        assert list(row.runnerup) == u64_to_i64(f.runnerup).tolist()
        assert row.simhash == u64_to_i64(np.array([f.simhash]))[0]
        assert (row.n_shingles, row.n_tokens) == (f.n_shingles, f.n_tokens)
        assert row.text_sha == f.text_sha
        assert list(row.fingerprints) == u64_to_i64(f.fingerprints).tolist()
        home = H.band_keys_batch(f.minhash[None, :], cfg.bands, cfg.rows_per_band)
        want = [(band, int(k), False, 0) for band, k in enumerate(u64_to_i64(home[0]))]
        want += [
            (band, int(u64_to_i64(np.array([key]))[0]), True, rank)
            for band, rank, key in H.probe_keys_for_doc(
                f.minhash, f.runnerup, cfg.bands, cfg.rows_per_band, cfg.probes
            )
        ]
        got = [
            (int(band), int(key), bool(probe), int(rank))
            for band, key, probe, rank in zip(row.b_band, row.b_key, row.b_probe, row.b_rank)
        ]
        assert got == want


def test_fresh_run_signs_each_document_once(spark, corpus_smoke, tmp_path, monkeypatch):
    """A fresh pipeline.run crosses the Arrow boundary once for stages
    1+2: the stage-1+2 function sees each document with non-null text
    exactly once, and the run commits no `buckets` table (bucket rows
    explode from the committed signatures)."""
    from dedup import pipeline, udfs
    from dedup.synth import pages_schema

    rows = spark.sparkContext.accumulator(0)
    make = udfs.make_fused_fn

    def counting(cfg):
        fn = make(cfg)

        def counted(batches):
            def fed():
                for pdf in batches:
                    rows.add(len(pdf))
                    yield pdf

            yield from fn(fed())

        return counted

    monkeypatch.setattr(udfs, "make_fused_fn", counting)
    pages = corpus_smoke.pages
    root = str(tmp_path / "wh")
    res = pipeline.run(spark, spark.createDataFrame(pages, schema=pages_schema()), DEFAULT, root)
    assert rows.value == int(pages["text"].notna().sum())
    assert res.stages_run == list(pipeline.TABLES)
    assert "buckets" not in pipeline.TABLES
    assert not os.path.exists(os.path.join(root, "buckets"))
    assert {m["stage"] for m in res.warehouse.read_metrics()} == set(pipeline.TABLES)


def test_fnv_tokens_batch_matches_scalar():
    rng = np.random.default_rng(7)
    # segments of wildly mixed lengths, including ones that hit the
    # scalar-finish path (few very long tails)
    segs = [bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
            for n in [0, 1, 3, 7, 2000, 5, 5, 8000, 2, 100]]
    buf = np.frombuffer(b"".join(segs), dtype=np.uint8)
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    got = H.fnv1a64_tokens_batch(buf, starts, lens)
    want = np.array([H.fnv1a64(s) for s in segs], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)
