"""Measured shuffle/IO accounting from Spark's AppStatusStore, and the
JVM's count of compiled generated classes.

docs/SCALE.md prices the pipeline's shuffle volume analytically; this
module measures it. The AppStatusStore is populated whether or not the
UI server runs (we set spark.ui.enabled=false), so the totals are
available in tests, benches, and production alike. Used by
jobs/run_dedup.py (session totals in the summary JSON line, so every
bench/scaling log row carries the measured shuffle volume — at two
parallelism levels the volumes must match, which is the evidence that
the legs did identical work and only the host varied) and by perfbench's
`shuffle_write_mb`. It walks every stage the session has retained, so
it is read once per run, not per stage commit.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def shuffle_totals(spark: SparkSession) -> dict:
    """Cumulative totals across all Spark stages this session: bytes of
    shuffle write/read, input (storage scans) and output (storage
    writes), plus the shuffle's written records and write time (the
    codec's CPU cost shows in it; ms, from Spark's ns). Py4J
    access to AppStatusStore.stageList (the v1 REST shape without the
    REST server); returns {} if the internal API ever moves — callers
    treat the numbers as best-effort evidence, never control flow."""
    try:
        sc = spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        w = r = inp = out = recs = wt_ns = 0
        for i in range(seq.length()):
            s = seq.apply(i)
            w += s.shuffleWriteBytes()
            r += s.shuffleReadBytes()
            inp += s.inputBytes()
            out += s.outputBytes()
            recs += s.shuffleWriteRecords()
            wt_ns += s.shuffleWriteTime()
        return {
            "shuffle_write_bytes": int(w),
            "shuffle_read_bytes": int(r),
            "input_bytes": int(inp),
            "output_bytes": int(out),
            "shuffle_write_records": int(recs),
            "shuffle_write_time_ms": round(wt_ns / 1e6, 3),
        }
    except Exception:
        return {}


def codegen_classes(spark: SparkSession) -> int:
    """Generated classes the JVM has compiled so far: the sample count of
    Spark's codegen compile-time histogram, which gets one sample per
    compile (a codegen cache miss) and none per cache hit. Read it
    before and after a call to count that call's compiles; a warm call
    in a session built by dedup.session compiles few. Runs no Spark job.
    In local mode the driver and executors share the JVM, so this counts
    both; on a cluster it counts the driver's compiles only."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
