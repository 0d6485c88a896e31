"""Session defaults (dedup/session.py): the codegen cache holds a dedup
call's whole working set of generated classes, so a warm call reuses
them instead of recompiling each one, and every block Spark ships is
zstd-compressed. Also the session-wide shuffle totals
(dedup/spark_metrics.py) that measure what those blocks cost.

The compile counts come from a fresh JVM: this module, run as a script,
builds its own session and prints the counts. The suite's shared session
has already compiled whatever earlier tests compiled, so a first call in
it is not cold.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _count_compiles(sf_dir: str) -> dict:
    """Two identical base runs, each into its own warehouse, then one
    increment onto each: the classes each of the four calls compiled."""
    from dedup.config import DEFAULT
    from dedup.incremental import run_incremental
    from dedup.pipeline import run
    from dedup.session import build_session
    from dedup.spark_metrics import codegen_classes
    from dedup.synth import make_corpus, pages_schema

    spark = build_session(app_name="codegen-probe", master="local[2]", shuffle_partitions=8)
    pages = make_corpus(sf_dir, seed=42).pages.sort_values("url", ignore_index=True)
    is_new = (pages.index % 10) < 3
    base = spark.createDataFrame(pages[~is_new], schema=pages_schema())
    new = spark.createDataFrame(pages[is_new], schema=pages_schema())

    def compiles(call) -> int:
        before = codegen_classes(spark)
        call()
        return codegen_classes(spark) - before

    tmp = tempfile.mkdtemp(prefix="codegen_probe_")
    try:
        whs = [os.path.join(tmp, name) for name in ("a", "b")]
        runs = [compiles(lambda wh=wh: run(spark, base, DEFAULT, wh)) for wh in whs]
        increments = [
            compiles(lambda wh=wh: run_incremental(spark, new, DEFAULT, wh, run_id="inc1"))
            for wh in whs
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    return {"runs": runs, "increments": increments}


@pytest.fixture(scope="module")
def compiles():
    from conftest import SF_SMOKE

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), SF_SMOKE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_warm_run_reuses_compiled_classes(compiles):
    """The second of two identical runs compiles under a quarter of what
    the first compiled. With Spark's default 100-entry cache every run
    recompiles nearly all of its ~150 classes."""
    first, second = compiles["runs"]
    assert first > 100
    assert second * 4 < first, compiles


def test_warm_increment_reuses_compiled_classes(compiles):
    """An increment onto a second copy of the same base compiles under
    half of what the first increment compiled."""
    first, second = compiles["increments"]
    assert second * 2 < first, compiles


def test_build_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_build_session_compresses_blocks_with_zstd(spark):
    assert spark.conf.get("spark.io.compression.codec") == "zstd"


def test_shuffle_totals_count_records_and_write_time(spark):
    """A known shuffle moves its rows: 10,000 rows repartitioned write at
    least 10,000 records and some bytes, and the write time is in ms."""
    from dedup.spark_metrics import shuffle_totals

    before = shuffle_totals(spark)
    assert spark.range(10_000).repartition(4).count() == 10_000
    after = shuffle_totals(spark)
    delta = {k: after[k] - before[k] for k in after}
    assert delta["shuffle_write_records"] >= 10_000, delta
    assert delta["shuffle_write_bytes"] > 0, delta
    assert delta["shuffle_write_time_ms"] >= 0, delta
    assert {"shuffle_read_bytes", "input_bytes", "output_bytes"} <= set(after)


def test_codegen_classes_runs_no_spark_job(spark):
    from test_incremental import _jobs_of

    from dedup.spark_metrics import codegen_classes

    assert _jobs_of(spark, lambda: codegen_classes(spark)) == []


if __name__ == "__main__":
    print(json.dumps(_count_compiles(sys.argv[1])))
