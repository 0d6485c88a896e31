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
    """(full run A, full run B, killed-then-resumed runs C and D)."""
    roots = [str(tmp_path_factory.mktemp(f"wh_{i}")) for i in range(4)]
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
    yield spark, a, b, c, d
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)


def test_determinism_two_runs_identical(three_runs):
    spark, a, b, _, _ = three_runs
    for t in FINAL_TABLES:
        pd.testing.assert_frame_equal(
            _table_pd(spark, a, t), _table_pd(spark, b, t), check_dtype=False
        )


def test_resume_equals_uninterrupted(three_runs):
    spark, a, _, c, d = three_runs
    assert "signatures" in c.stages_skipped
    assert "candidate_pairs" in c.stages_run  # torn write was rebuilt
    assert "signatures" in d.stages_skipped
    assert "buckets" in d.stages_run
    for resumed in (c, d):
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


def test_metrics_have_per_partition_rows(three_runs):
    _, a, _, _, _ = three_runs
    rows = a.warehouse.read_metrics()
    stages = {m["stage"] for m in rows}
    assert {"signatures", "buckets", "clusters"} <= stages
    for m in rows:
        assert m["rows"] >= 0 and m["bytes"] > 0 and "partition_id" in m
