"""Stage 3's url-id map (stages._url_ids) and the entries exchange: ids
are unique and frozen, the entries relation costs one shuffle, and no
output depends on id order matching url order. Stage 4 over stage 3's
lazy candidates (an increment's verify) evaluates them once."""

import re

import pandas as pd
import pytest

from dedup import stages
from dedup.config import DEFAULT
from dedup.oracle import run_oracle
from dedup.synth import pages_schema


@pytest.fixture(scope="module")
def sig_buckets(spark, corpus_smoke):
    pages = spark.createDataFrame(corpus_smoke.pages, schema=pages_schema())
    sigs = stages.stage12_fused(pages, DEFAULT).cache()
    yield sigs, stages.buckets_from_fused(sigs)
    sigs.unpersist()


def test_url_ids_unique_and_frozen(spark):
    """One id per distinct url (duplicates in, one row out), and the
    checkpointed map answers every read with the same ids."""
    urls = [f"https://s{i % 7}.example.com/d/{i % 600:05d}" for i in range(977)]
    df = spark.createDataFrame([(u,) for u in urls], "url string").repartition(13)
    ids = stages._url_ids(df)
    first = ids.collect()
    m1 = {r["url"]: r["uid"] for r in first}
    m2 = {r["url"]: r["uid"] for r in ids.collect()}
    assert len(first) == len(set(urls))
    assert set(m1) == set(urls)
    assert len(set(m1.values())) == len(m1)
    assert m1 == m2


def _exchanges(df) -> list[str]:
    """The `Exchange hashpartitioning(...)` key lists of the physical plan
    that materialized the persisted `df` (AQE's final plan)."""
    scan = df._jdf.queryExecution().executedPlan().executedPlan()
    plan = scan.relation().cachedPlan().executedPlan().toString()
    return re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)


def test_entries_cost_one_exchange(sig_buckets):
    """The lsh (key, uid) dedup and the window count share ONE hash
    exchange on (g, k1, k2): the (band, key, uid) pre-aggregation's own
    shuffle must not come back."""
    sigs, buckets = sig_buckets
    out = stages.stage3_candidates(sigs, buckets, DEFAULT)
    try:
        assert out.entries.count() > 0
        keys = _exchanges(out.entries)
        assert len(keys) == 1, keys
        cols = [re.sub(r"#\d+L?$", "", k.strip()) for k in keys[0].split(",")]
        assert cols[:-1] == ["g", "k1", "k2"]  # the last item is the count
    finally:
        out.entries.unpersist()


def test_verify_aggregates_lazy_candidates_once(spark, sig_buckets, corpus_smoke):
    """Verify over an uncommitted candidates relation, as an increment
    runs it, plans and runs the (uid_a, uid_b) pair aggregate once: AQE's
    final plan holds one final collect_set aggregate, not one per
    consumer of `candidates`."""
    sigs, buckets = sig_buckets
    pages = spark.createDataFrame(corpus_smoke.pages, schema=pages_schema())
    out = stages.stage3_candidates(sigs, buckets, DEFAULT)
    try:
        verified = stages.stage4_verify(out.candidates, sigs, pages, DEFAULT)
        assert verified.collect()
        plan = verified._jdf.queryExecution().executedPlan().toString()
    finally:
        out.entries.unpersist()
    assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true"), plan
    final_plan = plan.split("\n+- == Initial Plan ==")[0]
    final_aggs = re.findall(
        r"ObjectHashAggregate\(keys=\[uid_a#\d+L, uid_b#\d+L\], functions=\[collect_set",
        final_plan,
    )
    assert len(final_aggs) == 1, plan


def test_outputs_ignore_id_order(spark, sig_buckets, corpus_smoke, monkeypatch):
    """With ids assigned in DESCENDING url order, candidates still come out
    as url_a < url_b, sha stars still root at the min url, and the
    candidate set equals the oracle's."""
    sigs, buckets = sig_buckets

    def descending_ids(urls):
        ordered = sorted({r["url"] for r in urls.collect()}, reverse=True)
        return spark.createDataFrame(
            list(enumerate(ordered)), "uid long, url string"
        ).coalesce(1).localCheckpoint()

    monkeypatch.setattr(stages, "_url_ids", descending_ids)
    out = stages.stage3_candidates(sigs, buckets, DEFAULT)
    try:
        got = out.candidates.toPandas()
    finally:
        out.entries.unpersist()

    assert (got["url_a"] < got["url_b"]).all()

    sha = sigs.select("url", "text_sha").toPandas()
    root = sha.groupby("text_sha")["url"].transform("min")
    sha = sha[sha.groupby("text_sha")["url"].transform("size") >= 2]
    want_stars = {
        (r, u) for u, r in zip(sha["url"], root[sha.index]) if u != r
    }
    got_stars = {
        (a, b)
        for a, b, s in got[["url_a", "url_b", "sources"]].values.tolist()
        if "sha" in s.split(",")
    }
    assert want_stars, "fixture should plant exact-duplicate texts"
    assert got_stars == want_stars

    cols = ["url_a", "url_b", "sources"]
    want = run_oracle(corpus_smoke.pages, DEFAULT).candidates
    pd.testing.assert_frame_equal(
        got.sort_values(cols, ignore_index=True)[cols],
        want.sort_values(cols, ignore_index=True)[cols],
        check_dtype=False,
    )


def test_simhash_combo_entries_match_oracle_at_bit_edges(spark):
    """The SQL-built combo keys equal hashing.simhash_combo_keys on the
    unsigned simhash, including the values whose sign bit or top/bottom
    blocks are all ones or all zeros (simhash is stored as a signed long).
    A signed shift in place of the unsigned one gives the same keys: each
    block is masked to its width after the shift, and no block reaches
    past bit 63, so the sign-fill bits never survive the mask."""
    import random

    from dedup import hashing as H

    rng = random.Random(11)
    values = [0, -1, -(1 << 63), (1 << 63) - 1, 1, 1 << 62, -(1 << 62)]
    values += [rng.randrange(-(1 << 63), 1 << 63) for _ in range(50)]
    df = spark.createDataFrame(
        [(f"u{i}", v) for i, v in enumerate(values)], "url string, simhash long"
    )
    got = {}
    for r in stages._simhash_combo_entries(df, DEFAULT, carry=("simhash",)).collect():
        got.setdefault(r["url"], set()).add((r["k1"], r["k2"]))
    widths, combo = DEFAULT.simhash_block_widths, DEFAULT.pigeonhole_combo
    for i, v in enumerate(values):
        want = set(H.simhash_combo_keys(v & ((1 << 64) - 1), widths, combo))
        assert got[f"u{i}"] == want, v
