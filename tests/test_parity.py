"""Oracle-parity tests (SURVEY.md §5.1): the Spark pipeline must reproduce
the single-process NumPy oracle — signatures bit-for-bit, bucket/probe rows
exactly, the verified-pair set, and the cluster partition — plus recall
>= 0.99 against the planted ground truth, and the byte-identity invariant.
One full pipeline run at sf0.001 is shared by the whole module."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from dedup.config import DEFAULT
from dedup.oracle import run_oracle
from dedup import pipeline, stages


@pytest.fixture(scope="module")
def run(spark, corpus_smoke, tmp_path_factory):
    wh_root = str(tmp_path_factory.mktemp("wh"))
    pages_sdf = spark.createDataFrame(
        corpus_smoke.pages, schema=__import__("dedup.synth", fromlist=["x"]).pages_schema()
    )
    res = pipeline.run(spark, pages_sdf, DEFAULT, wh_root)
    oracle = run_oracle(corpus_smoke.pages, DEFAULT)
    return spark, res, oracle, corpus_smoke


def _sorted(df, cols):
    return df.sort_values(cols, ignore_index=True)


def test_signatures_bit_for_bit(run):
    spark, res, oracle, _ = run
    got = _sorted(
        res.df(spark, "signatures").toPandas(), ["url"]
    )
    want = _sorted(oracle.signatures, ["url"])
    assert got["url"].tolist() == want["url"].tolist()
    assert np.array_equal(
        np.array(got["minhash"].tolist()), np.array(want["minhash"].tolist())
    )
    assert np.array_equal(
        np.array(got["runnerup"].tolist()), np.array(want["runnerup"].tolist())
    )
    assert got["simhash"].tolist() == want["simhash"].tolist()
    assert got["text_sha"].tolist() == want["text_sha"].tolist()
    assert got["n_shingles"].tolist() == want["n_shingles"].tolist()
    for g, w in zip(got["fingerprints"], want["fingerprints"]):
        assert list(g) == list(w)


def test_buckets_exact(run):
    spark, res, oracle, _ = run
    cols = ["band", "bucket_key", "url", "is_probe", "probe_rank"]
    buckets = stages.buckets_from_fused(res.df(spark, "signatures"))
    got = _sorted(buckets.toPandas(), cols)[cols]
    want = _sorted(oracle.buckets, cols)[cols]
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False
    )


def test_candidates_match_oracle(run):
    spark, res, oracle, _ = run
    cols = ["url_a", "url_b", "sources"]
    got = _sorted(res.df(spark, "candidate_pairs").toPandas(), cols)[cols]
    want = _sorted(oracle.candidates, cols)[cols]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_verified_pairs_match_oracle(run):
    spark, res, oracle, _ = run
    got = res.df(spark, "verified_pairs").toPandas()
    want = oracle.verified
    key = ["url_a", "url_b"]
    got = _sorted(got, key)
    want = _sorted(want, key)
    assert got[key].values.tolist() == want[key].values.tolist()
    assert got["is_dup"].tolist() == want["is_dup"].tolist()
    assert got["sha_equal"].tolist() == want["sha_equal"].tolist()
    assert got["hamming"].tolist() == want["hamming"].tolist()
    assert np.allclose(got["jaccard"].to_numpy(), want["jaccard"].to_numpy())
    assert got["substr_ok"].tolist() == want["substr_ok"].tolist()


def test_clusters_match_oracle_partition(run):
    spark, res, oracle, _ = run
    got = _sorted(res.df(spark, "clusters").toPandas(), ["url"])
    want = _sorted(oracle.clusters, ["url"])
    assert got["url"].tolist() == want["url"].tolist()
    # identical partition AND identical representative (min-url convention)
    assert got["cluster_id"].tolist() == want["cluster_id"].tolist()


def test_recall_vs_truth(run):
    """Cluster-connectivity recall >= 0.99 on claimed tiers
    (FIXTURES.md B.4: exact/near/hamming/substring)."""
    spark, res, _, corpus = run
    from dedup.synth import CLAIMED_TIERS

    cl = dict(
        res.df(spark, "clusters").toPandas()[["url", "cluster_id"]].values.tolist()
    )
    truth = corpus.truth_pairs
    claimed = truth[truth["tier"].isin(CLAIMED_TIERS)]
    assert len(claimed) > 20, "fixture should plant enough claimed-tier pairs"
    hits = sum(
        1 for a, b in claimed[["url_a", "url_b"]].values.tolist() if cl[a] == cl[b]
    )
    recall = hits / len(claimed)
    assert recall >= 0.99, f"claimed-tier recall {recall:.4f} < 0.99"


def test_medium_tier_candidate_recall(run):
    """Multi-probe demo band (FIXTURES.md B.4): medium pairs (Jaccard
    ~0.7-0.8, no long substring) are a CANDIDATE-GENERATION target — the
    verification threshold tau=0.8 intentionally rejects most of them from
    clustering, so the assertion is on candidate_pairs, not clusters."""
    spark, res, _, corpus = run
    med = corpus.truth_pairs.query("tier == 'medium'")
    if len(med) == 0:
        pytest.skip("no medium pairs at this sf")
    cand = set(
        map(
            tuple,
            res.df(spark, "candidate_pairs")
            .toPandas()[["url_a", "url_b"]]
            .values.tolist(),
        )
    )
    hits = sum(
        1 for a, b in med[["url_a", "url_b"]].values.tolist() if (a, b) in cand
    )
    # measured 1.0 at sf0.001 and sf0.01 under the OPH scheme; the gate
    # leaves headroom for fixture evolution but demonstrates the
    # multi-probe recall claim far above coin-flip (was 0.5 in round 1)
    assert hits / len(med) >= 0.9


def test_byte_identity_invariant(run):
    """sha256(text) per url identical between input corpus and every stage
    output carrying text (BASELINE.json:15)."""
    spark, res, _, corpus = run
    want = {
        u: hashlib.sha256(t.encode("utf-8")).hexdigest()
        for u, t in corpus.pages[["url", "text"]].values.tolist()
    }
    for table in ["pages", "canonical_pages"]:
        got = res.df(spark, table).toPandas()[["url", "text"]]
        for u, t in got.values.tolist():
            assert hashlib.sha256(t.encode("utf-8")).hexdigest() == want[u], (
                table,
                u,
            )
    # signatures carry text_sha — must equal the input hash too
    sig = res.df(spark, "signatures").toPandas()[["url", "text_sha"]]
    for u, s in sig.values.tolist():
        assert s == want[u]


def test_canonical_one_per_cluster(run):
    spark, res, _, _ = run
    canon = res.df(spark, "canonical_pages").toPandas()
    per = canon.groupby("cluster_id")["is_canonical"].sum()
    assert (per == 1).all()


def test_hot_bucket_dropped_and_logged(run):
    """The 50-url boilerplate group must overflow max_bucket=64? No — 50
    <= 64 so LSH keeps it; but its sha/simhash/winnow groups are also 50.
    Check: no silent drops — every dropped bucket is logged with its size,
    and the hot group still clusters together (via whichever generator
    kept it)."""
    spark, res, oracle, _ = run
    got = _sorted(
        res.df(spark, "dropped_buckets").toPandas(), ["generator", "key"]
    )[["generator", "key", "n"]]
    want = _sorted(oracle.dropped_buckets, ["generator", "key"])[
        ["generator", "key", "n"]
    ]
    want["n"] = want["n"].astype("int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    cl = res.df(spark, "clusters").toPandas()
    hot = cl[cl["url"].str.startswith("https://hot.example.com/")]
    assert hot["cluster_id"].nunique() == 1
