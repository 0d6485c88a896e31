"""Measured shuffle/IO accounting from Spark's AppStatusStore.

docs/SCALE.md prices the pipeline's shuffle volume analytically; this
module measures it. The AppStatusStore is populated whether or not the
UI server runs (we set spark.ui.enabled=false), so the totals are
available in tests, benches, and production alike. Used by
pipeline.run's stage commits (cumulative snapshot per stage row in
stage_metrics.jsonl) and jobs/run_dedup.py (totals in the summary JSON
line, so every bench/scaling log row carries the measured shuffle volume
— at two parallelism levels the volumes must match, which is the
evidence that the legs did identical work and only the host varied).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def shuffle_totals(spark: SparkSession) -> dict:
    """Cumulative bytes across all Spark stages this session: shuffle
    write/read, input (storage scans), output (storage writes). Py4J
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
        w = r = inp = out = 0
        for i in range(seq.length()):
            s = seq.apply(i)
            w += s.shuffleWriteBytes()
            r += s.shuffleReadBytes()
            inp += s.inputBytes()
            out += s.outputBytes()
        return {
            "shuffle_write_bytes": int(w),
            "shuffle_read_bytes": int(r),
            "input_bytes": int(inp),
            "output_bytes": int(out),
        }
    except Exception:
        return {}
