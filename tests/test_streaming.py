"""Streaming ingest gates (dedup/streaming.py): a Structured Streaming
query over a parquet drop directory, folded through foreachBatch ->
run_incremental, must end at EXACTLY the cluster partition a full batch
run over everything produces — including when batches are replayed
(idempotence markers) and when a crashed attempt left partial delta
state behind (rollback + rerun)."""

import glob
import os
import shutil

import pandas as pd
import pytest

from dedup.catalog import Warehouse
from dedup.config import DEFAULT
from dedup.pipeline import run
from dedup.streaming import rollback_increment, run_stream
from dedup.synth import pages_schema


def _write_batch_file(spark, pdf, source_dir, name):
    """Materialize one micro-batch as a single parquet FILE in the drop
    directory (the file stream source enumerates files, not datasets)."""
    tmp = os.path.join(source_dir, f"_tmp_{name}")
    df = spark.createDataFrame(pdf, schema=pages_schema())
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(source_dir, f"{name}.parquet")
    shutil.move(part, dest)
    shutil.rmtree(tmp)
    return dest


def _clusters_pd(spark, warehouse_root):
    wh = Warehouse(
        root=warehouse_root, config_hash=DEFAULT.config_hash(), run_id="read"
    )
    return (
        wh.read(spark, "clusters")
        .toPandas()
        .sort_values("url", ignore_index=True)
    )


@pytest.fixture(scope="module")
def batches(corpus_smoke):
    pages = corpus_smoke.pages.sort_values("url", ignore_index=True)
    part = pages.index % 10
    # three disjoint batches whose planted clusters straddle the
    # batch boundaries (same split discipline as the incremental tests)
    return [
        pages[part < 6].reset_index(drop=True),
        pages[(part >= 6) & (part < 8)].reset_index(drop=True),
        pages[part >= 8].reset_index(drop=True),
    ]


@pytest.fixture(scope="module")
def full_run_clusters(spark, batches, tmp_path_factory):
    wh_full = str(tmp_path_factory.mktemp("wh_stream_full"))
    full_df = spark.createDataFrame(
        pd.concat(batches, ignore_index=True), schema=pages_schema()
    )
    res = run(spark, full_df, DEFAULT, wh_full)
    return (
        res.df(spark, "clusters")
        .toPandas()
        .sort_values("url", ignore_index=True)
    )


@pytest.fixture(scope="module")
def stream_env(spark, batches, tmp_path_factory):
    """A drop directory with one parquet file per batch (mtimes ordered so
    the file source enumerates them deterministically), plus a warehouse
    bootstrapped-and-streamed over all three."""
    source = str(tmp_path_factory.mktemp("stream_src"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    for i, pdf in enumerate(batches):
        p = _write_batch_file(spark, pdf, source, f"batch_{i}")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    return source, wh_root, ckpt, result


def test_stream_bootstraps_then_increments(stream_env):
    _, _, _, result = stream_env
    assert result.bootstrapped
    assert result.processed == [0, 1, 2]
    assert result.skipped == []
    assert result.rolled_back == []


def test_stream_end_state_equals_full_run(spark, stream_env, full_run_clusters):
    _, wh_root, _, _ = stream_env
    got = _clusters_pd(spark, wh_root)
    assert got["url"].tolist() == full_run_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()


def test_stream_replay_with_lost_checkpoint_is_idempotent(
    spark, stream_env, full_run_clusters
):
    """Destroying the checkpoint replays every batch from scratch; the done
    markers must skip all of them and the end state must not move."""
    source, wh_root, ckpt, _ = stream_env
    shutil.rmtree(ckpt)
    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert result.processed == []
    assert sorted(result.skipped) == [0, 1, 2]
    got = _clusters_pd(spark, wh_root)
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()


def test_stream_recovers_from_crashed_attempt(
    spark, batches, full_run_clusters, tmp_path_factory
):
    """Simulate a crash mid-increment: batch 1's attempt committed and
    registered its pages delta but died before the done marker. The replay
    must roll that partial state back and still end at the full-run
    partition."""
    source = str(tmp_path_factory.mktemp("stream_src_crash"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream_crash"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt_crash"))
    for i, pdf in enumerate(batches[1:]):
        p = _write_batch_file(spark, pdf, source, f"batch_{i}")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    # base run over batch 0 (the stream starts against a completed base,
    # so batch ids 0/1 in the stream are increments over it)
    base_df = spark.createDataFrame(batches[0], schema=pages_schema())
    run(spark, base_df, DEFAULT, wh_root)

    # forge the crashed attempt for stream batch 0 (run_id "s0"): pages
    # delta committed AND registered, nothing else, no done marker
    wh = Warehouse(
        root=wh_root, config_hash=DEFAULT.config_hash(), run_id="s0"
    )
    crashed = spark.createDataFrame(
        batches[1], schema=pages_schema()
    ).withColumn("warc_day", __import__("pyspark").sql.functions.to_date("warc_ts"))
    wh.write(crashed, "pages_delta_s0", partition_by=["warc_day"])
    wh.register_delta("pages", "pages_delta_s0")

    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert result.rolled_back == [0]
    assert result.processed == [0, 1]
    got = _clusters_pd(spark, wh_root)
    assert got["url"].tolist() == full_run_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()


def test_stream_batch_order_does_not_change_end_state(
    spark, batches, full_run_clusters, tmp_path_factory
):
    """Micro-batch arrival order must not change the final partition: the
    REVERSED drop order makes the smallest batch the bootstrap base and
    the largest the last increment, and the end state still equals the
    full batch run (no hidden dependence on which batch seeded the
    warehouse)."""
    source = str(tmp_path_factory.mktemp("stream_src_rev"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream_rev"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt_rev"))
    for i, pdf in enumerate(reversed(batches)):
        p = _write_batch_file(spark, pdf, source, f"batch_{i}")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert result.bootstrapped and result.processed == [0, 1, 2]
    got = _clusters_pd(spark, wh_root)
    assert got["url"].tolist() == full_run_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()


def test_rollback_removes_registered_and_unregistered_deltas(
    spark, batches, tmp_path_factory
):
    """A crash between a delta's manifest commit and its registration must
    still be rolled back (the directory would otherwise block the rerun's
    write)."""
    wh_root = str(tmp_path_factory.mktemp("wh_rollback"))
    wh = Warehouse(
        root=wh_root, config_hash=DEFAULT.config_hash(), run_id="s7"
    )
    df = spark.createDataFrame(batches[1], schema=pages_schema())
    wh.write(df, "pages_delta_s7")
    wh.register_delta("pages", "pages_delta_s7")
    wh.write(df.select("url", "text"), "signatures_delta_s7")  # NOT registered

    rolled = rollback_increment(wh, "s7")
    assert sorted(rolled) == ["pages_delta_s7", "signatures_delta_s7"]
    assert wh.registered_deltas("pages") == []
    assert not os.path.exists(os.path.join(wh_root, "pages_delta_s7"))
    assert not os.path.exists(os.path.join(wh_root, "signatures_delta_s7"))


def test_stream_resumes_crashed_bootstrap(
    spark, batches, full_run_clusters, tmp_path_factory
):
    """A bootstrap that crashed MID-pipeline (pages committed, later stages
    not) must be recognized as a bootstrap on replay — not routed to
    run_incremental, which would refuse (no completed base) and wedge the
    stream permanently (ADVICE r3, medium)."""
    source = str(tmp_path_factory.mktemp("stream_src_boot"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream_boot"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt_boot"))
    for i, pdf in enumerate(batches):
        p = _write_batch_file(spark, pdf, source, f"batch_{i}")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    # forge the crashed bootstrap: stream batch 0 (run_id "s0") committed
    # pages + signatures, then died — no done marker
    boot_df = spark.createDataFrame(batches[0], schema=pages_schema())
    run(spark, boot_df, DEFAULT, wh_root, run_id="s0", stop_after="signatures")

    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert result.bootstrapped
    assert result.processed == [0, 1, 2]
    got = _clusters_pd(spark, wh_root)
    assert got["url"].tolist() == full_run_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()


def test_stream_completed_unmarked_bootstrap_replays_as_noop(
    spark, batches, tmp_path_factory
):
    """The other bootstrap crash window: the pipeline finished EVERY stage
    but died before the done marker landed. The replay must recognize the
    batch as its own bootstrap (pages manifest run_id == s<batch_id>),
    resume pipeline.run (all stages skip), and write the marker — not call
    run_incremental, whose url-overlap guard would raise."""
    source = str(tmp_path_factory.mktemp("stream_src_boot2"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream_boot2"))
    ckpt1 = str(tmp_path_factory.mktemp("stream_ckpt_boot2a"))
    ckpt2 = str(tmp_path_factory.mktemp("stream_ckpt_boot2b"))
    _write_batch_file(spark, batches[0], source, "batch_0")

    first = run_stream(spark, source, DEFAULT, wh_root, ckpt1)
    assert first.bootstrapped and first.processed == [0]
    before = _clusters_pd(spark, wh_root)
    # forge the crash: everything committed, marker never landed
    os.remove(os.path.join(wh_root, "_STREAM_BATCH_0.done"))

    replay = run_stream(spark, source, DEFAULT, wh_root, ckpt2)
    assert replay.bootstrapped and replay.processed == [0]
    assert os.path.exists(os.path.join(wh_root, "_STREAM_BATCH_0.done"))
    after = _clusters_pd(spark, wh_root)
    assert after["cluster_id"].tolist() == before["cluster_id"].tolist()


def test_stream_empty_first_batch_creates_warehouse_root(
    spark, batches, tmp_path_factory
):
    """An empty first micro-batch must not crash on a warehouse root that
    no stage has created yet (ADVICE r3, low: _mark_done wrote into a
    nonexistent directory)."""
    source = str(tmp_path_factory.mktemp("stream_src_empty"))
    root = tmp_path_factory.mktemp("wh_stream_empty_parent")
    wh_root = os.path.join(str(root), "nested", "wh")  # does not exist
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt_empty"))
    _write_batch_file(spark, batches[0].head(0), source, "batch_0")

    result = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert result.processed == [0] and not result.bootstrapped
    assert os.path.exists(os.path.join(wh_root, "_STREAM_BATCH_0.done"))


def test_stream_replay_after_crash_past_pointer_swap(
    spark, batches, full_run_clusters, tmp_path_factory
):
    """The worst crash point: an increment finished EVERYTHING — deltas
    committed + registered, global clusters/canonical generations swapped
    — and died before writing its done marker. The replay reruns the same
    batch under the same run_id; it must roll the deltas back, recompute
    them, rewrite the globals FROM the already-swapped generation without
    corrupting it (catalog.replace uses attempt-unique generation names),
    and end at the full-run partition."""
    source = str(tmp_path_factory.mktemp("stream_src_swap"))
    wh_root = str(tmp_path_factory.mktemp("wh_stream_swap"))
    ckpt1 = str(tmp_path_factory.mktemp("stream_ckpt_swap1"))
    ckpt2 = str(tmp_path_factory.mktemp("stream_ckpt_swap2"))
    for i, pdf in enumerate(batches):
        p = _write_batch_file(spark, pdf, source, f"batch_{i}")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    first = run_stream(spark, source, DEFAULT, wh_root, ckpt1)
    assert first.processed == [0, 1, 2]
    # forge the crash: batch 2 completed but its done marker never landed
    os.remove(os.path.join(wh_root, "_STREAM_BATCH_2.done"))

    replay = run_stream(spark, source, DEFAULT, wh_root, ckpt2)
    assert sorted(replay.skipped) == [0, 1]
    assert replay.processed == [2]
    assert replay.rolled_back == [2]  # its deltas existed and were rolled back
    got = _clusters_pd(spark, wh_root)
    assert got["url"].tolist() == full_run_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_run_clusters["cluster_id"].tolist()
