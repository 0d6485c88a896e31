"""Incremental dedup gates (dedup/incremental.py): folding a new batch
into a completed base run must produce EXACTLY the cluster partition a
full from-scratch run over the union produces (same min-url cluster ids),
while doing only new-touching candidate/verify work."""

import pandas as pd
import pytest

from dedup.config import DEFAULT
from dedup.incremental import run_incremental
from dedup.pipeline import run
from dedup.synth import pages_schema


@pytest.fixture(scope="module")
def split_corpus(corpus_smoke):
    pages = corpus_smoke.pages.sort_values("url", ignore_index=True)
    # deterministic split that still crosses batches: every 10th row joins
    # the increment, so planted clusters straddle the base/new boundary
    new_mask = (pages.index % 10) < 3
    return pages[~new_mask].reset_index(drop=True), pages[new_mask].reset_index(drop=True)


@pytest.fixture(scope="module")
def runs(spark, split_corpus, tmp_path_factory):
    base_pd, new_pd = split_corpus
    wh_inc = str(tmp_path_factory.mktemp("wh_inc"))
    wh_full = str(tmp_path_factory.mktemp("wh_full"))

    base_df = spark.createDataFrame(base_pd, schema=pages_schema())
    new_df = spark.createDataFrame(new_pd, schema=pages_schema())
    full_df = spark.createDataFrame(
        pd.concat([base_pd, new_pd], ignore_index=True), schema=pages_schema()
    )

    run(spark, base_df, DEFAULT, wh_inc)            # base run
    inc = run_incremental(spark, new_df, DEFAULT, wh_inc, run_id="inc1")
    full = run(spark, full_df, DEFAULT, wh_full)    # reference full run
    return spark, inc, full, base_pd, new_pd


def test_incremental_clusters_equal_full_run(runs):
    spark, inc, full, _base, _new = runs
    got = (
        inc["clusters"].toPandas().sort_values("url", ignore_index=True)
    )
    want = (
        full.df(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    )
    assert got["url"].tolist() == want["url"].tolist()
    # identical partition AND identical min-url representatives
    assert got["cluster_id"].tolist() == want["cluster_id"].tolist()


def test_incremental_only_does_new_touching_work(runs):
    _spark, inc, _full, base_pd, new_pd = runs
    new_urls = set(new_pd["url"])
    ver = inc["verified_pairs_delta"].toPandas()
    assert len(ver) > 0
    # every verified delta pair touches at least one new url
    assert all(
        (a in new_urls) or (b in new_urls)
        for a, b in ver[["url_a", "url_b"]].values.tolist()
    )
    # signatures delta covers only the new batch
    sig_urls = set(inc["signatures_delta"].toPandas()["url"])
    assert sig_urls <= new_urls


def test_two_chained_increments_equal_full_run(spark, corpus_smoke, tmp_path_factory):
    """Increment N must see the state of increments 1..N-1: base +
    increment A + increment B == one full run over everything."""
    pages = corpus_smoke.pages.sort_values("url", ignore_index=True)
    part = pages.index % 10
    base_pd = pages[part < 6].reset_index(drop=True)
    inc1_pd = pages[(part >= 6) & (part < 8)].reset_index(drop=True)
    inc2_pd = pages[part >= 8].reset_index(drop=True)

    wh = str(tmp_path_factory.mktemp("wh_chain"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh)
    run_incremental(
        spark, spark.createDataFrame(inc1_pd, schema=pages_schema()),
        DEFAULT, wh, run_id="incA",
    )
    out = run_incremental(
        spark, spark.createDataFrame(inc2_pd, schema=pages_schema()),
        DEFAULT, wh, run_id="incB",
    )

    wh_full = str(tmp_path_factory.mktemp("wh_chain_full"))
    full = run(
        spark, spark.createDataFrame(pages, schema=pages_schema()), DEFAULT, wh_full
    )
    got = out["clusters"].toPandas().sort_values("url", ignore_index=True)
    want = full.df(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    assert got["url"].tolist() == want["url"].tolist()
    assert got["cluster_id"].tolist() == want["cluster_id"].tolist()


def test_incremental_rejects_overlapping_urls(spark, split_corpus, tmp_path_factory):
    base_pd, _new_pd = split_corpus
    wh = str(tmp_path_factory.mktemp("wh_overlap"))
    base_df = spark.createDataFrame(base_pd, schema=pages_schema())
    run(spark, base_df, DEFAULT, wh)
    with pytest.raises(ValueError, match="already present"):
        run_incremental(spark, base_df.limit(5), DEFAULT, wh)


def test_incremental_rejects_nonalphanumeric_run_id(
    spark, split_corpus, tmp_path_factory
):
    """A run_id outside [0-9a-zA-Z] would name delta tables later
    discovery could misparse — rejected up front, before any write."""
    base_pd, new_pd = split_corpus
    wh = str(tmp_path_factory.mktemp("wh_badid"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh)
    new_df = spark.createDataFrame(new_pd, schema=pages_schema())
    for bad in ("inc-1", "inc_1", "inc.1"):
        with pytest.raises(ValueError, match="alphanumeric"):
            run_incremental(spark, new_df, DEFAULT, wh, run_id=bad)


@pytest.mark.parametrize("fail_on", ["buckets", "verified_pairs"])
def test_failed_delta_write_releases_caches(
    spark, split_corpus, tmp_path_factory, monkeypatch, fail_on
):
    """A delta write that raises must not leave the fused or stage-3
    entries caches pinned in the session (a streaming retry reuses it)."""
    from dedup.catalog import Warehouse

    base_pd, new_pd = split_corpus
    wh = str(tmp_path_factory.mktemp(f"wh_fail_{fail_on}"))
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh)

    real_write = Warehouse.write

    def failing_write(self, df, name, *args, **kwargs):
        if name.startswith(f"{fail_on}_delta_"):
            raise OSError(f"forged write failure: {name}")
        return real_write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write", failing_write)
    spark.catalog.clearCache()
    new_df = spark.createDataFrame(new_pd, schema=pages_schema())
    with pytest.raises(OSError, match="forged"):
        run_incremental(spark, new_df, DEFAULT, wh, run_id=f"fail{fail_on[0]}")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_increment_replaces_globals_atomically(runs, tmp_path_factory):
    """After an increment, the global clusters/canonical tables live in a
    pointer-resolved generation directory; the base run's directory is
    untouched (crash mid-rewrite can't lose the committed state) and a
    plain in-place write of a versioned table is refused."""
    import json
    import os

    spark, inc, _full, _base, _new = runs
    root = os.path.dirname(inc["clusters"].inputFiles()[0].replace("file:", ""))
    wh_root = os.path.dirname(root)
    for t in ("clusters", "canonical_pages"):
        ptr = os.path.join(wh_root, f"{t}.POINTER.json")
        assert os.path.exists(ptr), f"missing pointer for {t}"
        gen = json.load(open(ptr))["dir"]
        assert gen.startswith(f"{t}__gen_")
        # new generation committed; base directory still committed too
        assert os.path.exists(os.path.join(wh_root, gen, "_MANIFEST.json"))
        assert os.path.exists(os.path.join(wh_root, t, "_MANIFEST.json"))


def test_replace_protocol_edges(spark, tmp_path):
    """Warehouse.replace: a plain write into a pointer-versioned table is
    refused (that in-place overwrite is the crash hazard the pointer
    removes), and a successful replace supersedes + deletes the previous
    generation."""
    import json
    import os

    from dedup.catalog import Warehouse

    root = str(tmp_path / "wh")
    os.makedirs(root)
    wh1 = Warehouse(root, "cfg", "run1")
    df = spark.range(3).withColumnRenamed("id", "url")
    wh1.replace(df, "clusters")  # first generation
    ptr = os.path.join(root, "clusters.POINTER.json")
    gen1 = json.load(open(ptr))["dir"]
    assert gen1.startswith("clusters__gen_run1_")
    with pytest.raises(ValueError, match="pointer-versioned"):
        wh1.write(df, "clusters")
    wh2 = Warehouse(root, "cfg", "run2")
    wh2.replace(df, "clusters")
    gen2 = json.load(open(ptr))["dir"]
    assert gen2.startswith("clusters__gen_run2_")
    assert not os.path.exists(os.path.join(root, gen1))
    assert wh2.read(spark, "clusters").count() == 3


def test_replace_same_run_id_reads_live_generation(spark, tmp_path):
    """The crashed-replay shape: an increment that already swapped the
    pointer is re-attempted under the SAME run_id, and the replacement
    data is computed FROM the live generation (exactly what
    run_incremental does — old cluster stars feed the new CC). The
    rewrite must not disturb the generation its own lineage reads: the
    attempt-unique generation name keeps the live directory intact until
    the new one has committed and the pointer has moved."""
    import json
    import os

    from pyspark.sql import functions as F

    from dedup.catalog import Warehouse

    root = str(tmp_path / "wh")
    os.makedirs(root)
    wh = Warehouse(root, "cfg", "s1")
    wh.replace(spark.range(5).withColumnRenamed("id", "url"), "clusters")
    ptr = os.path.join(root, "clusters.POINTER.json")
    gen_live = json.load(open(ptr))["dir"]

    # replacement LAZILY derived from the live generation, same run_id
    derived = wh.read(spark, "clusters").withColumn(
        "url", F.col("url") + F.lit(100)
    )
    wh.replace(derived, "clusters")

    gen_new = json.load(open(ptr))["dir"]
    assert gen_new != gen_live
    got = sorted(r.url for r in wh.read(spark, "clusters").collect())
    assert got == [100, 101, 102, 103, 104]
    # superseded generation GC'd after the swap; only the new one remains
    gens = [d for d in os.listdir(root) if d.startswith("clusters__gen_")]
    assert gens == [gen_new]


def test_incremental_requires_completed_base(spark, split_corpus, tmp_path_factory):
    _base_pd, new_pd = split_corpus
    wh = str(tmp_path_factory.mktemp("wh_nobase"))
    new_df = spark.createDataFrame(new_pd, schema=pages_schema())
    with pytest.raises(ValueError, match="completed base run"):
        run_incremental(spark, new_df, DEFAULT, wh)


@pytest.fixture(scope="module")
def dup_heavy(spark, corpus_smoke, tmp_path_factory):
    """A base run over 40 docs of planted 4-doc groups, then an increment
    of nine more copies of each (synth.replicate_corpus): the increment
    verifies ~18 pairs per doc, past pipeline._clusters' contraction
    threshold of 8 per doc CC labels. Records which CC the increment
    ran, whether each call left the session's cache manager empty, and
    a full run over base ∪ new as the reference."""
    from dedup import pipeline
    from dedup.synth import SynthCorpus, replicate_corpus

    tc = corpus_smoke.truth_clusters
    four = tc[tc.groupby("cluster_id")["url"].transform("size") == 4]
    urls = sorted(four["url"])[:40]
    pages = corpus_smoke.pages[corpus_smoke.pages["url"].isin(urls)]
    sub = SynthCorpus(pages.sort_values("url", ignore_index=True), None, None)
    copies = replicate_corpus(sub, 10)
    base_pd, new_pd = copies[: len(pages)], copies[len(pages):]

    wh = str(tmp_path_factory.mktemp("wh_dup_heavy"))
    cache_empty = lambda: spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: E731
    spark.catalog.clearCache()
    run(spark, spark.createDataFrame(base_pd, schema=pages_schema()), DEFAULT, wh)
    empty_after_run = cache_empty()

    calls = []
    real = pipeline.connected_components_contracted

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    # every Spark job run_incremental runs after its composition returns,
    # that is, for its return dict of committed tables
    group = "dup1-after-execute"
    real_execute = pipeline.execute

    def execute_then_group(*args, **kwargs):
        res = real_execute(*args, **kwargs)
        spark.sparkContext.setJobGroup(group, "run_incremental return dict")
        return res

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "connected_components_contracted", spy)
        mp.setattr(pipeline, "execute", execute_then_group)
        try:
            inc = run_incremental(
                spark, spark.createDataFrame(new_pd, schema=pages_schema()),
                DEFAULT, wh, run_id="dup1",
            )
        finally:
            spark.sparkContext._jsc.clearJobGroup()
        return_jobs = _group_jobs(spark, group)
        empty_after_inc = cache_empty()
        got = inc["clusters"].toPandas().sort_values("url", ignore_index=True)

    full = run(
        spark, spark.createDataFrame(copies, schema=pages_schema()), DEFAULT,
        str(tmp_path_factory.mktemp("wh_dup_heavy_full")),
    )
    want = full.df(spark, "clusters").toPandas().sort_values("url", ignore_index=True)
    return {
        "wh": wh, "calls": calls, "got": got, "want": want,
        "empty_after_run": empty_after_run, "empty_after_inc": empty_after_inc,
        "return_jobs": return_jobs,
    }


def _group_jobs(spark, group: str) -> list[int]:
    """Ids of the Spark jobs run under job group `group`, once the
    listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs `fn()` runs on this thread."""
    import uuid

    group = f"jobs-of-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, "jobs of one call")
    try:
        fn()
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    return _group_jobs(spark, group)


def test_dup_heavy_increment_takes_contracted_cc(dup_heavy):
    """A dup-heavy increment contracts exact duplicates before CC, as a
    fresh run does, and still equals the full run over base ∪ new."""
    assert len(dup_heavy["calls"]) == 1
    got, want = dup_heavy["got"], dup_heavy["want"]
    assert got["url"].tolist() == want["url"].tolist()
    assert got["cluster_id"].tolist() == want["cluster_id"].tolist()
    assert got["cluster_id"].nunique() < len(got)  # the copies did merge


def test_run_and_increment_release_caches_and_record_metrics(spark, dup_heavy):
    """Neither a run nor an increment leaves a cached relation behind,
    and an increment appends per-partition metrics rows under its run_id
    for every table it commits, summing to each table's committed rows,
    in the stage_metrics table as read_metrics and Spark read it."""
    import os

    from dedup.catalog import METRICS_SCHEMA, Warehouse

    assert dup_heavy["empty_after_run"]
    assert dup_heavy["empty_after_inc"]
    wh = Warehouse(dup_heavy["wh"], DEFAULT.config_hash(), "dup1")
    rows = [r for r in wh.read_metrics() if r["run_id"] == "dup1"]
    deltas = ("pages", "signatures", "buckets", "verified_pairs")
    replaced = ("clusters", "canonical_pages")
    assert {r["stage"] for r in rows} == {*deltas, *replaced}
    for t in (*deltas, *replaced):
        name = f"{t}_delta_dup1" if t in deltas else t
        assert sum(r["rows"] for r in rows if r["stage"] == t) == wh.manifest(name)["rows"]
    cols = METRICS_SCHEMA.fieldNames()
    table = spark.read.parquet(os.path.join(wh.root, wh.METRICS_TABLE))
    got = [tuple(r) for r in table.filter("run_id = 'dup1'").select(*cols).collect()]
    assert sorted(got) == sorted(tuple(r[c] for c in cols) for r in rows)


def test_catalog_runs_no_spark_job_for_metadata(spark, dup_heavy, tmp_path):
    """Reading a committed table (every table of a fresh run and of an
    increment, partitioned, delta and pointer-versioned ones included),
    run_incremental's return dict and the metrics-table append run no
    Spark job: a read takes its schema from the manifest, and the schema
    and rows equal an inferred read's. A manifest without `schema`
    (written before it existed) still reads, through inference."""
    import json
    import os
    import shutil

    from dedup.catalog import MANIFEST, METRICS_SCHEMA, Warehouse
    from dedup.incremental import DELTA_TABLES
    from dedup.pipeline import TABLES

    assert dup_heavy["return_jobs"] == []
    wh = Warehouse(dup_heavy["wh"], DEFAULT.config_hash(), "dup1")
    names = [*TABLES, *(f"{t}_delta_dup1" for t in DELTA_TABLES)]
    reads = {}
    assert _jobs_of(spark, lambda: reads.update((t, wh.read(spark, t)) for t in names)) == []

    def rows(df):
        return sorted(repr(r) for r in df.collect())

    for t, df in reads.items():
        inferred = spark.read.parquet(wh.path(t))
        assert df.schema == inferred.schema, t
        assert rows(df) == rows(inferred), t

    # a pre-schema manifest: the same table, read through inference
    old = Warehouse(str(tmp_path / "old"), wh.config_hash, "old")
    shutil.copytree(wh.path("pages"), old.path("pages"))
    with open(os.path.join(old.path("pages"), MANIFEST)) as f:
        man = json.load(f)
    del man["schema"]
    with open(os.path.join(old.path("pages"), MANIFEST), "w") as f:
        json.dump(man, f)
    legacy = old.read(spark, "pages")
    assert legacy.schema == reads["pages"].schema
    assert rows(legacy) == rows(reads["pages"])

    # non-nullable nested fields and a partition column that is not last
    # read back as a parquet scan reports them
    fresh = Warehouse(str(tmp_path / "fresh"), wh.config_hash, "fresh")
    nested = spark.sql(
        "SELECT id, array(id, id + 1) AS arr, map('k', id) AS m,"
        " named_struct('a', id, 'b', array('x')) AS st,"
        " date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS warc_day,"
        " CAST(id AS STRING) AS s FROM range(6)"
    )
    fresh.write(nested, "nested", partition_by=["warc_day"])
    assert _jobs_of(spark, lambda: reads.update(nested=fresh.read(spark, "nested"))) == []
    inferred = spark.read.parquet(fresh.path("nested"))
    assert reads["nested"].schema == inferred.schema
    assert rows(reads["nested"]) == rows(inferred)

    # the driver-written metrics table reads like a Spark-written one
    metrics = wh.read_metrics()
    assert _jobs_of(spark, lambda: fresh.write_metrics_table(spark, metrics)) == []
    got = spark.read.parquet(os.path.join(fresh.root, fresh.METRICS_TABLE))
    spark.createDataFrame(
        [{k: r.get(k) for k in METRICS_SCHEMA.fieldNames()} for r in metrics],
        METRICS_SCHEMA,
    ).write.parquet(str(tmp_path / "spark_metrics"))
    want = spark.read.parquet(str(tmp_path / "spark_metrics"))
    assert got.schema == want.schema
    assert rows(got) == rows(want)


def test_concurrent_delta_registrations_lose_none(tmp_path):
    """An increment's delta commits register on background threads, and
    the delta registry is one read-modify-replace file: registrations
    landing at once must not lose one another."""
    import sys
    import threading

    from dedup.catalog import Warehouse

    wh = Warehouse(str(tmp_path), "cfg", "r1")
    errors = []

    def register(t):
        try:
            for i in range(25):
                wh.register_delta(t, f"{t}_delta_r{i}")
        except OSError as exc:
            errors.append(exc)

    tables = [f"t{i}" for i in range(16)]
    threads = [threading.Thread(target=register, args=(t,)) for t in tables]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for t in tables:
        assert wh.registered_deltas(t) == [f"{t}_delta_r{i}" for i in range(25)]


def test_concurrent_metrics_appends_lose_none(tmp_path):
    """Commits append their metrics rows to the stage_metrics table from
    background threads at once: every appended row must read back."""
    import sys
    import threading

    from dedup.catalog import Warehouse

    wh = Warehouse(str(tmp_path), "cfg", "r1")
    errors = []

    def append(t):
        try:
            for i in range(10):
                wh.write_metrics_table(None, [{"stage": t, "partition_id": i, "rows": i}])
        except OSError as exc:
            errors.append(exc)

    tables = [f"t{i}" for i in range(16)]
    threads = [threading.Thread(target=append, args=(t,)) for t in tables]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    got = sorted((r["stage"], r["partition_id"], r["rows"]) for r in wh.read_metrics())
    assert got == sorted((t, i, i) for t in tables for i in range(10))
