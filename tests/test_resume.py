"""Resume-equivalence + determinism invariants (SURVEY.md §5.4;
BASELINE.json:6 "resumes mid-pipeline with full lineage").

NOTE: these tests deliberately run the pipeline three times at sf0.001;
they are the slowest module in the suite (~2 min)."""

import os
import shutil

import pandas as pd
import pytest

from dedup.config import DEFAULT
from dedup import pipeline
from dedup.synth import pages_schema

FINAL_TABLES = ["signatures", "candidate_pairs", "verified_pairs", "clusters"]


def _pages_df(spark, corpus):
    return spark.createDataFrame(corpus.pages, schema=pages_schema())


KEYS = {
    "signatures": ["url"],
    "candidate_pairs": ["url_a", "url_b"],
    "verified_pairs": ["url_a", "url_b"],
    "clusters": ["url"],
}


def _table_pd(spark, res, name):
    df = res.df(spark, name).toPandas()
    out = df.sort_values(KEYS[name], ignore_index=True)
    # array columns aren't hashable for pandas compare: stringify them
    for c in out.columns:
        if len(out) and out[c].dtype == object and not isinstance(out[c].iloc[0], str):
            out[c] = out[c].map(lambda v: str(list(v)))
    return out


@pytest.fixture(scope="module")
def three_runs(spark, corpus_smoke, tmp_path_factory):
    """(full run A, full run B, killed-then-resumed runs C, D and E)."""
    roots = [str(tmp_path_factory.mktemp(f"wh_{i}")) for i in range(5)]
    pages = _pages_df(spark, corpus_smoke)
    a = pipeline.run(spark, pages, DEFAULT, roots[0])
    b = pipeline.run(spark, pages, DEFAULT, roots[1])
    # run C: stop after buckets ("crash"), partially delete an uncommitted
    # stage dir to simulate a torn write, then resume
    pipeline.run(spark, pages, DEFAULT, roots[2], stop_after="buckets")
    torn = os.path.join(roots[2], "candidate_pairs")
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write, no manifest")
    c = pipeline.run(spark, pages, DEFAULT, roots[2])
    # run D: stop after signatures, so the resume finds signatures
    # committed but buckets not — it reruns stages 1+2 and commits buckets
    pipeline.run(spark, pages, DEFAULT, roots[3], stop_after="signatures")
    d = pipeline.run(spark, pages, DEFAULT, roots[3])
    # run E: stop after candidate_pairs, so the resume finds candidates
    # committed but dropped_buckets not — it reruns stage 3 for the
    # dropped-bucket report only
    pipeline.run(spark, pages, DEFAULT, roots[4], stop_after="candidate_pairs")
    e = pipeline.run(spark, pages, DEFAULT, roots[4])
    yield spark, a, b, c, d, e
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)


def test_determinism_two_runs_identical(three_runs):
    spark, a, b, _, _, _ = three_runs
    for t in FINAL_TABLES:
        pd.testing.assert_frame_equal(
            _table_pd(spark, a, t), _table_pd(spark, b, t), check_dtype=False
        )


def test_resume_equals_uninterrupted(three_runs):
    spark, a, _, c, d, e = three_runs
    assert "signatures" in c.stages_skipped
    assert "candidate_pairs" in c.stages_run  # torn write was rebuilt
    assert "signatures" in d.stages_skipped
    assert "buckets" in d.stages_run
    assert "candidate_pairs" in e.stages_skipped
    assert "dropped_buckets" in e.stages_run
    for resumed in (c, d, e):
        for t in FINAL_TABLES:
            pd.testing.assert_frame_equal(
                _table_pd(spark, a, t),
                _table_pd(spark, resumed, t),
                check_dtype=False,
            )


def test_config_change_invalidates_checkpoints(spark, corpus_smoke, tmp_path):
    """A committed stage under config X must NOT be reused under config Y
    (manifest carries config_hash)."""
    root = str(tmp_path / "wh")
    pages = _pages_df(spark, corpus_smoke)
    pipeline.run(spark, pages, DEFAULT, root, stop_after="signatures")
    other = DEFAULT.with_(jaccard_tau=0.9)
    res = pipeline.run(spark, pages, other, root, stop_after="signatures")
    assert "signatures" in res.stages_run  # not skipped despite existing dir


def test_stop_after_rejects_unknown_table(tmp_path):
    """A mistyped stop_after fails before the lease or any Spark work,
    naming the valid tables (the pages argument is never touched)."""
    with pytest.raises(ValueError, match="candidate_pairs") as exc:
        pipeline.run(None, None, DEFAULT, str(tmp_path / "wh"), stop_after="candidates")
    for name in pipeline.TABLES:
        assert name in str(exc.value)
    assert not (tmp_path / "wh").exists()


def test_metrics_have_per_partition_rows(three_runs):
    _, a, _, _, _, _ = three_runs
    rows = a.warehouse.read_metrics()
    stages = {m["stage"] for m in rows}
    assert {"signatures", "buckets", "clusters"} <= stages
    for m in rows:
        assert m["rows"] >= 0 and m["bytes"] > 0 and "partition_id" in m


def test_metrics_survive_a_failed_run(spark, corpus_smoke, tmp_path, monkeypatch):
    """Each commit appends its own per-partition metrics rows, so a run
    that fails in stage 4 leaves in the stage_metrics table the rows of
    exactly the tables it committed before the failure, each summing to
    its manifest's rows."""
    from pyspark.sql import functions as F

    from dedup import stages
    from dedup.catalog import Warehouse

    def fail(*args, **kwargs):
        raise RuntimeError("stage 4 failed")

    monkeypatch.setattr(stages, "stage4_verify", fail)
    root = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="stage 4 failed"):
        pipeline.run(spark, _pages_df(spark, corpus_smoke), DEFAULT, root)
    committed = pipeline.TABLES[: pipeline.TABLES.index("verified_pairs")]
    assert committed == ("pages", "signatures", "buckets", "candidate_pairs", "dropped_buckets")
    table = spark.read.parquet(os.path.join(root, Warehouse.METRICS_TABLE))
    got = {
        r["stage"]: r
        for r in table.groupBy("stage")
        .agg(
            F.sum("rows").alias("rows"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("partition_id").alias("ids"),
        )
        .collect()
    }
    assert set(got) == set(committed)
    wh = Warehouse(root, DEFAULT.config_hash(), "check")
    for t in committed:
        assert got[t]["rows"] == wh.manifest(t)["rows"], t
        assert got[t]["n"] == got[t]["ids"] == len(wh.partition_metrics(t)), t
