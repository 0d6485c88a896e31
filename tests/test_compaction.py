"""Delta-compaction + single-writer-lease gates (VERDICT r3 "next round"
#1 and #6).

compact() folds every committed delta into a fresh base generation via
the pointer-swap protocol so global-view reads stop degrading linearly
with increment history. Gates: (a) global views byte-equal across the
compaction, (b) later increments and streaming batches still end at
EXACTLY the full-run partition, (c) a crash between the pointer swap and
the registry GC loses nothing and double-counts nothing, (d) a crashed
(uncommitted) increment attempt's partial deltas are never folded.

The lease makes the protocol's serial-writer assumption enforced:
a second live writer fails fast, a crashed writer's stale lease is taken
over, and re-entrant acquisition lets streaming hold one lease around
its per-batch run/run_incremental calls."""

import glob
import os
import shutil

import pandas as pd
import pytest

from dedup.catalog import LeaseHeldError, Warehouse
from dedup.config import DEFAULT
from dedup.incremental import REPLACED_TABLES, _with_deltas, compact, run_incremental
from dedup.pipeline import run
from dedup.synth import pages_schema

DELTA_TABLES = ("pages", "signatures", "verified_pairs")


def _wh(root):
    return Warehouse(root=root, config_hash=DEFAULT.config_hash(), run_id="t")


def _views(spark, root):
    import numpy as np

    wh = _wh(root)
    out = {}
    for t in DELTA_TABLES:
        df = _with_deltas(spark, wh, t).toPandas()[
            sorted(_with_deltas(spark, wh, t).columns)
        ]
        for c in df.columns:  # array cells aren't sortable: stringify
            if df[c].dtype == object and len(df) and isinstance(
                df[c].iloc[0], (list, tuple, np.ndarray)
            ):
                df[c] = df[c].map(lambda v: str(list(v)))
            elif str(df[c].dtype) == "object":
                df[c] = df[c].astype(str)
        out[t] = df.sort_values(list(df.columns), ignore_index=True)
    return out


@pytest.fixture(scope="module")
def splits(corpus_smoke):
    pages = corpus_smoke.pages.sort_values("url", ignore_index=True)
    part = pages.index % 10
    return (
        pages[part < 6].reset_index(drop=True),
        pages[(part >= 6) & (part < 8)].reset_index(drop=True),
        pages[part >= 8].reset_index(drop=True),
    )


@pytest.fixture(scope="module")
def full_clusters(spark, corpus_smoke, tmp_path_factory):
    wh_root = str(tmp_path_factory.mktemp("wh_cmp_full"))
    pages = corpus_smoke.pages.sort_values("url", ignore_index=True)
    res = run(spark, spark.createDataFrame(pages, schema=pages_schema()), DEFAULT, wh_root)
    return (
        res.df(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    )


def _rows(spark, root, table):
    """A table's rows as pandas, sorted by url (one row per url)."""
    df = _wh(root).read(spark, table).toPandas()
    return df[sorted(df.columns)].sort_values("url", ignore_index=True)


@pytest.fixture(scope="module")
def compacted_env(spark, splits, tmp_path_factory):
    """base + increment A, views snapshotted, then compacted."""
    base_pd, inc1_pd, _ = splits
    wh_root = str(tmp_path_factory.mktemp("wh_compact"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh_root)
    run_incremental(
        spark, spark.createDataFrame(inc1_pd, schema=pages_schema()),
        DEFAULT, wh_root, run_id="incA",
    )
    before = _views(spark, wh_root)
    before.update({t: _rows(spark, wh_root, t) for t in REPLACED_TABLES})
    folded = compact(spark, DEFAULT, wh_root)
    return wh_root, before, folded


def test_compaction_folds_all_committed_deltas(compacted_env):
    wh_root, _, folded = compacted_env
    assert set(folded) == set(DELTA_TABLES)
    assert folded["pages"] == ["pages_delta_incA"]
    wh = _wh(wh_root)
    for t in DELTA_TABLES:
        assert wh.active_deltas(t) == []
        assert wh.registered_deltas(t) == []
        # the folded delta directories are gone
        assert not glob.glob(os.path.join(wh_root, f"{t}_delta_*"))
        # ...and so is the superseded plain base directory (at 10^12 docs
        # the old pages snapshot would otherwise double the footprint)
        assert not os.path.isdir(os.path.join(wh_root, t))
        assert wh._read_pointer(t) is not None


def test_compaction_retires_replaced_plain_dirs(spark, compacted_env):
    """clusters and canonical_pages never get deltas, but the increment's
    pointer swap superseded the base run's plain directories: compact()
    deletes them, and both tables still read back the same rows."""
    wh_root, before, _ = compacted_env
    for t in REPLACED_TABLES:
        assert _wh(wh_root)._read_pointer(t) is not None
        assert not os.path.isdir(os.path.join(wh_root, t))
        pd.testing.assert_frame_equal(before[t], _rows(spark, wh_root, t))


def test_compaction_preserves_global_views(spark, compacted_env):
    wh_root, before, _ = compacted_env
    after = _views(spark, wh_root)
    for t in DELTA_TABLES:
        pd.testing.assert_frame_equal(before[t], after[t])


def test_compacted_view_is_single_scan(spark, compacted_env):
    """The point of compaction: the global view reads ONE committed table
    again (no N-way union of delta scans in the plan)."""
    wh_root, _, _ = compacted_env
    plan = _with_deltas(spark, _wh(wh_root), "signatures")._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert "Union" not in plan


def test_increment_after_compaction_equals_full_run(
    spark, splits, compacted_env, full_clusters
):
    _, _, inc2_pd = splits
    wh_root, _, _ = compacted_env
    out = run_incremental(
        spark, spark.createDataFrame(inc2_pd, schema=pages_schema()),
        DEFAULT, wh_root, run_id="incB",
    )
    got = out["clusters"].toPandas().sort_values("url", ignore_index=True)
    assert got["url"].tolist() == full_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_clusters["cluster_id"].tolist()


def test_crash_between_swap_and_gc_loses_nothing(spark, splits, tmp_path_factory):
    """Forge the worst compaction crash: the folded generation committed
    and the pointer swapped (with `includes`), but the registry GC never
    ran. The view must not double-count the folded delta, and the next
    compact() must finish the GC."""
    base_pd, inc1_pd, _ = splits
    wh_root = str(tmp_path_factory.mktemp("wh_compact_crash"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh_root)
    run_incremental(
        spark, spark.createDataFrame(inc1_pd, schema=pages_schema()),
        DEFAULT, wh_root, run_id="incA",
    )
    wh = _wh(wh_root)
    before = _views(spark, wh_root)

    # replay compact()'s steps for ONE table, stopping before the GC
    view = wh.read(spark, "signatures").unionByName(
        wh.read(spark, "signatures_delta_incA")
    )
    wh.replace(view, "signatures", includes=["signatures_delta_incA"])
    assert wh.registered_deltas("signatures") == ["signatures_delta_incA"]
    assert wh.active_deltas("signatures") == []  # included -> subtracted

    mid = _views(spark, wh_root)
    pd.testing.assert_frame_equal(before["signatures"], mid["signatures"])

    folded = compact(spark, DEFAULT, wh_root)
    # signatures' delta was already folded (crashed GC finished, nothing
    # re-folded for it); the other tables folded normally
    assert "signatures" not in folded
    assert set(folded) == {"pages", "verified_pairs"}
    after = _views(spark, wh_root)
    for t in DELTA_TABLES:
        pd.testing.assert_frame_equal(before[t], after[t])
        assert _wh(wh_root).registered_deltas(t) == []


def test_compaction_skips_uncommitted_attempt(spark, splits, tmp_path_factory):
    """A crashed increment attempt (deltas registered, increment never
    marked committed) must NOT be folded — its partial state stays
    visible to rollback_increment for the replay."""
    base_pd, inc1_pd, _ = splits
    wh_root = str(tmp_path_factory.mktemp("wh_compact_skip"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh_root)
    wh = _wh(wh_root)
    from pyspark.sql import functions as F

    crashed = spark.createDataFrame(
        inc1_pd, schema=pages_schema()
    ).withColumn("warc_day", F.to_date("warc_ts"))
    wh.write(crashed, "pages_delta_s9", partition_by=["warc_day"])
    wh.register_delta("pages", "pages_delta_s9")

    folded = compact(spark, DEFAULT, wh_root)
    assert folded == {}  # nothing committed -> nothing folded
    assert wh.registered_deltas("pages") == ["pages_delta_s9"]
    assert os.path.exists(os.path.join(wh_root, "pages_delta_s9"))


def test_stream_continues_exactly_after_compaction(
    spark, splits, full_clusters, tmp_path_factory
):
    """Streaming across a compaction: batches 0+1 stream in, the warehouse
    compacts, batch 2 lands and streams — the end state still equals the
    full batch run."""
    from dedup.streaming import run_stream

    source = str(tmp_path_factory.mktemp("cmp_stream_src"))
    wh_root = str(tmp_path_factory.mktemp("wh_cmp_stream"))
    ckpt = str(tmp_path_factory.mktemp("cmp_stream_ckpt"))

    def drop(pdf, name, ts):
        tmp = os.path.join(source, f"_tmp_{name}")
        df = spark.createDataFrame(pdf, schema=pages_schema())
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(source, f"{name}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (ts, ts))

    drop(splits[0], "batch_0", 1_700_000_000)
    drop(splits[1], "batch_1", 1_700_000_001)
    first = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert first.processed == [0, 1]

    folded = compact(spark, DEFAULT, wh_root)
    assert set(folded) == set(DELTA_TABLES)

    drop(splits[2], "batch_2", 1_700_000_002)
    second = run_stream(spark, source, DEFAULT, wh_root, ckpt)
    assert second.processed == [2]

    wh = _wh(wh_root)
    got = (
        wh.read(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    )
    assert got["url"].tolist() == full_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_clusters["cluster_id"].tolist()


def test_stream_auto_compaction(spark, splits, full_clusters, tmp_path_factory):
    """compact_every=N inside the stream: the warehouse compacts itself
    whenever N active pages deltas accumulate, under the stream's own
    lease, without changing the end state. With three batches (bootstrap
    + 2 increments) and compact_every=2, the second increment triggers
    one compaction and leaves zero active deltas."""
    from dedup.streaming import run_stream

    source = str(tmp_path_factory.mktemp("auto_cmp_src"))
    wh_root = str(tmp_path_factory.mktemp("wh_auto_cmp"))
    ckpt = str(tmp_path_factory.mktemp("auto_cmp_ckpt"))
    for i, pdf in enumerate(splits):
        tmp = os.path.join(source, f"_tmp_{i}")
        df = spark.createDataFrame(pdf, schema=pages_schema())
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(source, f"batch_{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    result = run_stream(
        spark, source, DEFAULT, wh_root, ckpt, compact_every=2
    )
    assert result.processed == [0, 1, 2]
    assert result.compacted == [2]  # batch 1 left 1 active delta, batch 2 -> 2
    wh = _wh(wh_root)
    for t in DELTA_TABLES:
        assert wh.active_deltas(t) == []
    got = (
        wh.read(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    )
    assert got["url"].tolist() == full_clusters["url"].tolist()
    assert got["cluster_id"].tolist() == full_clusters["cluster_id"].tolist()


# -- single-writer lease -------------------------------------------------


def test_lease_blocks_live_second_writer(spark, splits, tmp_path_factory):
    """A second increment against a warehouse whose lease is held by a
    LIVE foreign process must fail fast, before any write."""
    base_pd, inc1_pd, _ = splits
    wh_root = str(tmp_path_factory.mktemp("wh_lease_live"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh_root)
    # forge a lease held by pid 1 (init: always alive, never us)
    import json

    with open(os.path.join(wh_root, "_LEASE.json"), "w") as f:
        json.dump({"pid": 1, "run_id": "other", "token": "x"}, f)
    with pytest.raises(LeaseHeldError, match="live pid 1"):
        run_incremental(
            spark, spark.createDataFrame(inc1_pd, schema=pages_schema()),
            DEFAULT, wh_root, run_id="incZ",
        )
    # nothing was written by the refused attempt
    assert _wh(wh_root).registered_deltas("pages") == []


def test_lease_stale_takeover_and_reentrancy(tmp_path):
    """A dead writer's lease is taken over atomically; re-entrant acquires
    by the owning pid return False and do not release the outer hold."""
    import json

    root = str(tmp_path / "wh")
    wh = _wh(root)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_LEASE.json"), "w") as f:
        json.dump({"pid": 99999999, "run_id": "dead", "token": "y"}, f)

    assert wh.acquire_lease() is True  # takeover of the dead pid's lease
    with open(os.path.join(root, "_LEASE.json")) as f:
        assert json.load(f)["pid"] == os.getpid()
    assert wh.acquire_lease() is False  # re-entrant: not a new ownership
    wh.release_lease()
    assert not os.path.exists(os.path.join(root, "_LEASE.json"))


def test_lease_released_after_run_and_on_error(spark, splits, tmp_path_factory):
    """run()/run_incremental() release the lease on success AND on error
    paths (the overlap-guard ValueError must not leave the warehouse
    locked)."""
    base_pd, _, _ = splits
    wh_root = str(tmp_path_factory.mktemp("wh_lease_rel"))
    base_df = spark.createDataFrame(base_pd, schema=pages_schema())
    run(spark, base_df, DEFAULT, wh_root)
    assert not os.path.exists(os.path.join(wh_root, "_LEASE.json"))
    with pytest.raises(ValueError, match="already present"):
        run_incremental(spark, base_df.limit(5), DEFAULT, wh_root)
    assert not os.path.exists(os.path.join(wh_root, "_LEASE.json"))


def test_lease_torn_or_empty_file_is_stale(tmp_path):
    """An empty or torn lease file is treated as a crashed writer and taken
    over. A HEALTHY writer can never produce one (the payload is staged
    privately and published with os.link — ADVICE r4 hole (b) was a reader
    observing the O_CREAT..write gap as an empty file and stealing a live
    lease; that gap no longer exists)."""
    import json

    root = str(tmp_path / "wh")
    wh = _wh(root)
    os.makedirs(root, exist_ok=True)
    open(os.path.join(root, "_LEASE.json"), "w").close()  # zero bytes

    assert wh.acquire_lease() is True
    with open(os.path.join(root, "_LEASE.json")) as f:
        cur = json.load(f)
    assert cur["pid"] == os.getpid()
    assert cur["pid_start"] == Warehouse._proc_start(os.getpid())
    wh.release_lease()


def test_lease_pid_reuse_is_dead(tmp_path):
    """A lease whose pid is alive but whose recorded start time belongs to
    an EARLIER process with the same pid (pid recycling) is stale — it must
    be taken over, not treated as live (which would wedge acquisition
    permanently) and not treated as re-entrant (our own pid recycled from a
    crashed writer's)."""
    import json

    root = str(tmp_path / "wh")
    wh = _wh(root)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_LEASE.json"), "w") as f:
        json.dump({"pid": os.getpid(), "pid_start": -1, "run_id": "ghost",
                   "token": "z"}, f)

    assert wh.acquire_lease() is True  # takeover, NOT re-entrant False
    with open(os.path.join(root, "_LEASE.json")) as f:
        assert json.load(f)["pid_start"] == Warehouse._proc_start(os.getpid())
    wh.release_lease()


def test_lease_takeover_cas_lost_race_retries(tmp_path, monkeypatch):
    """If another taker wins the rename-claim first (our os.rename sees
    FileNotFoundError), acquisition loops and re-evaluates instead of
    publishing blindly — the CAS guarantees at most one winner per claim."""
    import json

    root = str(tmp_path / "wh")
    wh = _wh(root)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_LEASE.json"), "w") as f:
        json.dump({"pid": 99999999, "run_id": "dead", "token": "y"}, f)

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(src)  # simulated: a rival claimed first
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    assert wh.acquire_lease() is True
    assert calls["n"] >= 2  # retried after the lost race
    monkeypatch.undo()
    wh.release_lease()


def test_lease_takeover_restores_fresh_lease(tmp_path, monkeypatch):
    """ADVICE r4 hole (a): if a FRESH lease is published between our
    staleness read and our rename-claim, the claimed bytes fail the token
    check, the fresh lease is restored, and acquisition re-evaluates it
    (here: live holder -> LeaseHeldError). Two live writers can no longer
    both conclude they own the lease."""
    import json

    root = str(tmp_path / "wh")
    wh = _wh(root)
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "_LEASE.json")
    with open(path, "w") as f:
        json.dump({"pid": 99999999, "run_id": "dead", "token": "y"}, f)

    fresh = {"pid": 1, "run_id": "rival", "token": "FRESH"}
    real_rename = os.rename

    def racing_rename(src, dst):
        # the rival's takeover lands just before ours claims
        with open(src, "w") as f:
            json.dump(fresh, f)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    with pytest.raises(LeaseHeldError, match="live pid 1"):
        wh.acquire_lease()
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f)["token"] == "FRESH"  # restored, not destroyed
