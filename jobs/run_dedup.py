"""Production launch entry (SURVEY.md §3.4; BASELINE.json:6,14):

    spark-submit --py-files dedup.zip jobs/run_dedup.py \
        --input /path/to/sf_dir --warehouse /path/to/wh \
        [--replicate N] [--resume-run-id ID] [--parallelism N] \
        [--stop-after STAGE] [--config default|banding16]

On a cluster, spark-submit supplies the master; locally --parallelism N
runs local[N]. Prints a one-line JSON summary (docs, wall seconds,
docs/sec, cluster stats, classes compiled, shuffle volume) to stdout —
the bench harness parses it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from dedup.pipeline import TABLES

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf fixture dir (documents.parquet inside)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--replicate", type=int, default=1, help="corpus replication factor")
    ap.add_argument("--resume-run-id", default=None)
    ap.add_argument("--parallelism", type=int, default=None, help="local[N] when no cluster master")
    ap.add_argument("--stop-after", default=None, choices=TABLES)
    ap.add_argument("--config", default="default", choices=["default", "banding16"])
    ap.add_argument(
        "--target-file-mb", type=int, default=8,
        help="snapshot target file size in MiB (8 sandbox, 128 cluster)",
    )
    args = ap.parse_args()

    from dedup import config as C
    from dedup.pipeline import run
    from dedup.session import build_session
    from dedup.spark_metrics import codegen_classes, shuffle_totals
    from dedup.synth import snapshot_pages
    from pyspark.sql import functions as F

    cfg = C.DEFAULT if args.config == "default" else C.BANDING16
    master = f"local[{args.parallelism}]" if args.parallelism else None
    spark = build_session(
        app_name=f"dedup-{os.path.basename(args.input)}", master=master
    )
    try:
        # Input prep (untimed): synthesize the corpus and snapshot it as the
        # warehouse `pages` table — the production input is an Iceberg table
        # that already exists, so corpus generation + the driver->executor
        # ship are not dedup throughput. The timed pipeline run below reads
        # pages back from the committed snapshot (its `pages` stage skips).
        from dedup.catalog import Warehouse

        wh = Warehouse(args.warehouse, cfg.config_hash(), args.resume_run_id or "prep")
        if not wh.is_complete("pages"):
            snapshot_pages(
                spark, wh, args.input, replicate=args.replicate,
                target_file_bytes=args.target_file_mb << 20,
            )
        pages = wh.read(spark, "pages")
        n_docs = pages.count()

        codegen0 = codegen_classes(spark)
        t0 = time.monotonic()
        res = run(
            spark,
            pages,
            cfg,
            args.warehouse,
            run_id=args.resume_run_id,
            resume=True,
            stop_after=args.stop_after,
        )
        wall = time.monotonic() - t0
        summary = {
            "docs": n_docs,
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(n_docs / wall, 1),
            "stages_run": res.stages_run,
            "stages_skipped": res.stages_skipped,
            "config": args.config,
            "run_id": res.warehouse.run_id,
            # generated classes the run compiled (a JVM's first dedup
            # call compiles its whole working set, ~150-300)
            "codegen_classes": codegen_classes(spark) - codegen0,
        }
        if args.stop_after is None:
            cl = res.df(spark, "clusters")
            stats = cl.agg(
                F.count("*").alias("urls"),
                F.countDistinct("cluster_id").alias("clusters"),
            ).collect()[0]
            summary["urls"] = stats["urls"]
            summary["clusters"] = stats["clusters"]
            summary["dup_rate"] = round(1 - stats["clusters"] / stats["urls"], 4)
        # measured shuffle volume for the whole session (input prep + run):
        # at two parallelism levels these must match — the evidence that
        # scaling legs did identical work and only the host varied
        for k, v in shuffle_totals(spark).items():
            if k.endswith("_bytes"):
                k, v = k.replace("_bytes", "_mb"), round(v / 1e6, 1)
            summary[k] = v
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
