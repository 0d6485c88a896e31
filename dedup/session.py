"""SparkSession builder with the scale-conscious defaults the pipeline
assumes (SURVEY.md §4): AQE on (skew-join split + partition coalescing),
Arrow everywhere (the UDF surface is 100% pandas/Arrow, BASELINE.json:15),
bounded Arrow batches, shuffle partitions sized to the local core count
(on a real cluster: ~2-3x total executor cores; set via --conf), a
codegen cache that holds every class a dedup call compiles, and zstd
for every block Spark compresses (shuffle, broadcast, spill).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _scratch_dir() -> str:
    """tmpfs scratch for shuffle files — but only when /dev/shm is
    actually large (containers often cap it at 64 MB, and a shuffle that
    outgrows tmpfs fails with ENOSPC where disk would have survived).
    Threshold: >= 16 GiB free. Override with SPARK_LOCAL_DIRS."""
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return os.environ["SPARK_LOCAL_DIRS"]
    shm = "/dev/shm/spark-local"
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            os.makedirs(shm, exist_ok=True)
            return shm
    except OSError:
        pass
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark-local")


def build_session(
    app_name: str = "dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (env, default all cores).
    On a real cluster, pass master=None and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    n_threads = os.cpu_count() or 8
    if master.startswith("local["):
        inner = master[6:-1]
        if inner != "*":
            n_threads = int(inner)
    if shuffle_partitions is None:
        # 2x parallelism: enough granularity for AQE to coalesce, not so many
        # that tiny-partition overhead dominates at sandbox scale
        shuffle_partitions = max(8, 2 * n_threads)

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small bins: stage 1/2 are CPU-heavy per byte (~0.7 us/byte of
        # Arrow-UDF work), so 128m file bins would starve the cores on
        # modest corpora — 1m bins keep every core fed (measured: 4m bins
        # coalesced the rep12 snapshot's ~1 MB files into ~6 splits, so
        # the signature stage ran 6-wide on 8 cores and scaled 2.3x
        # instead of ~4x from 2->8 workers). Production clusters with
        # TB-scale inputs override this via --conf.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "64k")
        # keep AQE from coalescing CPU-bearing shuffle stages below core
        # count: target smaller post-shuffle partitions on small corpora
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # Room for every generated class the pipeline compiles. Spark
        # keeps compiled codegen classes in an LRU of this many entries
        # (default 100), but one dedup call needs more: ~145 on
        # perfbench's fresh_light and ~195 on incremental_append (seed
        # 7), so at 100 every call evicted and recompiled all of them.
        # 1000 is over 3x the largest working set measured: 175 distinct
        # classes over a fresh_light session (a warm-up plus four calls)
        # and 281 over a base run plus three increments. A static conf:
        # the first session built in a JVM fixes it.
        # dedup.spark_metrics.codegen_classes counts compiles.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # zstd (at Spark's default level 1) for every block Spark
        # compresses: shuffle files, broadcasts, spills. Most shuffled
        # bytes are stage 3's entry rows, whose random 64-bit bucket keys
        # lz4 (Spark's default) barely shrinks: 15.0 B/row under lz4 and
        # 9.4 B/row under zstd, and a perfbench dedup call writes ~40%
        # fewer shuffle bytes (docs/SCALE.md). Its cost at that size:
        # ~25 ms more summed shuffle-write task time per call, and peak
        # PSS within 0.3% over ten paired runs per workload.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle/spill scratch on tmpfs when available: this host's /tmp
        # is disk-backed; RAM is 128 GiB and shuffle state for the bench
        # corpora is a few GiB, so tmpfs removes disk IO contention from
        # the multi-worker legs (a cluster uses local NVMe for the same
        # reason). Override with SPARK_LOCAL_DIRS for bigger-than-RAM runs.
        .config("spark.local.dir", _scratch_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
