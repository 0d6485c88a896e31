"""Incremental dedup: fold a NEW batch of pages into a completed base run
without recomputing old-old work (the daily-crawl story at the 100 TB
design point; SURVEY.md §2.9's incremental note made real).

What is incremental vs recomputed:
  - stage 1/2 run on the NEW batch only (the dominant per-doc cost).
  - candidate generation sees OLD + NEW bucket/signature state but emits
    only pairs touching >= 1 new url (stage3_candidates new_urls mode);
    the bucket cap counts old+new members, matching what a from-scratch
    run over the union would drop.
  - verification runs on those new-touching pairs only.
  - connectivity: the base run's clusters table IS the transitive
    closure of the old dup pairs, compressed to one star per component —
    so CC re-runs over (old cluster stars) UNION (new dup pairs), which
    is tiny compared to re-clustering the full edge set, and yields the
    SAME partition a full union run would (star edges preserve old
    components exactly; tests/test_incremental.py asserts the equality).

Append semantics: the delta tables (pages/signatures/buckets/
verified_pairs `_delta_<id>`) commit under the same manifest protocol,
are recorded in the warehouse's delta registry (catalog.register_delta —
discovery never lists directories), and are folded into the global view
read by SUBSEQUENT increments (`_with_deltas`), so increments chain;
`clusters` and `canonical_pages` are global outputs replaced each
increment via the atomic generation-pointer swap (catalog.replace), so a
crash mid-rewrite can never lose the previous committed generation.
(An Iceberg deployment appends the deltas as snapshots of the base
tables instead of suffixed directories — same commit semantics, one
writer seam in catalog.py.)

Known, documented divergence from a full recompute: old-old pairs keep
the verdicts of the base run even if the union corpus would have pushed
their bucket over the cap (the full run would then drop those pairs
entirely). Append-only retention is the desired behavior for a dedup
service — once two docs are known duplicates, more data cannot un-know
it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stages
from .catalog import Warehouse
from .cc import LOCAL_CC_MAX_EDGES, connected_components
from .config import DedupConfig

BASE_TABLES = ("pages", "signatures", "buckets", "verified_pairs", "clusters")


def _with_deltas(spark: SparkSession, wh: Warehouse, table: str) -> DataFrame:
    """The current global view of `table`: the base run's table UNION every
    ACTIVE committed `<table>_delta_*` from prior increments — so
    increments chain (increment N sees the state produced by increments
    1..N-1). Discovery reads the warehouse's delta registry written at
    commit time (catalog.register_delta), never a directory listing — a
    stray directory can't be picked up, and an unregistered (crashed)
    delta is invisible, matching the all-or-nothing commit semantics.
    Deltas folded into the current base generation by compact() are
    subtracted via the pointer's `includes` list (catalog.active_deltas),
    so the view stays exact across the compaction commit no matter where
    a crash lands."""
    df = wh.read(spark, table)
    for name in wh.active_deltas(table):
        if wh.is_complete(name):
            df = df.unionByName(wh.read(spark, name))
    return df


def compact(
    spark: SparkSession,
    cfg: DedupConfig,
    warehouse_root: str,
    run_id: str | None = None,
) -> dict[str, list[str]]:
    """Fold every committed delta into a fresh base generation, table by
    table, so global-view reads stop degrading linearly with increment
    history (VERDICT r3 "next round" #1: after N daily batches or
    streaming micro-batches, every `_with_deltas` read was an N-way union
    — N file listings, N scan nodes).

    Commit protocol, per table (crash-safe at every boundary):
      1. write the folded view as a fresh generation directory and swap
         the table pointer to it via catalog.replace — with the folded
         delta names riding the pointer as `includes`. The swap is ONE
         os.replace, so fold + retire is atomic: before it, readers see
         base ∪ deltas; after it, the folded generation with those deltas
         subtracted by active_deltas(). No window double-counts or loses
         a delta.
      2. GC: unregister (and delete) each folded delta. Pure cleanup —
         a crash mid-GC leaves some deltas registered-but-included, which
         active_deltas() already skips; the next compact() carries them
         in its own `includes` until the GC completes.

    Tables are independent views, so a crash between two tables' swaps
    leaves a mix of compacted and chained tables — each still exact.
    Returns {table: [folded delta names]}. Holds the single-writer lease
    (serial with increments/streaming, like every warehouse writer)."""
    import uuid as _uuid

    wh = Warehouse(
        root=warehouse_root,
        config_hash=cfg.config_hash(),
        run_id=run_id or f"compact{_uuid.uuid4().hex[:8]}",
    )
    import os
    import shutil

    folded: dict[str, list[str]] = {}
    with wh.lease():
        for table in ("pages", "signatures", "buckets", "verified_pairs"):
            # GC the superseded PLAIN base directory: once the pointer
            # references a generation, the base run's original table is
            # dead storage (readers resolve the pointer) — at 10^12 docs
            # leaving the old pages snapshot behind doubles the footprint.
            # Idempotent, so a crash here just re-runs next compact.
            if wh._read_pointer(table) is not None:
                plain = os.path.join(wh.root, table)
                if os.path.isdir(plain):
                    shutil.rmtree(plain, ignore_errors=True)
            # finish any crashed prior compaction's GC FIRST: a delta both
            # registered and included was already folded into the live
            # generation — retire it before this compaction swaps in a new
            # pointer whose `includes` would no longer list it (leaving it
            # registered past that swap would double-count it).
            included = set(
                (wh._read_pointer_meta(table) or {}).get("includes", [])
            )
            for d in wh.registered_deltas(table):
                if d in included:
                    wh.unregister_delta(table, d)
            # fold ONLY deltas of increments that committed end-to-end
            # (catalog increment log): a crashed attempt's partial deltas
            # must stay visible to rollback_increment for the replay —
            # folding them would bake partial state into the base and make
            # the rerun's url-overlap guard reject its own batch
            done = set(wh.committed_increments())
            deltas = [
                d
                for d in wh.active_deltas(table)
                if wh.is_complete(d)
                and d.removeprefix(f"{table}_delta_") in done
            ]
            if not deltas:
                continue
            view = wh.read(spark, table)
            for d in deltas:
                view = view.unionByName(wh.read(spark, d))
            view, by_day = stages.day_layout(view)
            wh.replace(view, table, partition_by=by_day, includes=deltas)
            for d in deltas:
                wh.unregister_delta(table, d)
            # this fold created the table's first generation? the plain
            # base directory is superseded as of the swap — GC it now
            # (the loop-top GC covers a crash landing in between)
            plain = os.path.join(wh.root, table)
            if os.path.isdir(plain):
                shutil.rmtree(plain, ignore_errors=True)
            folded[table] = deltas
    return folded


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    cfg: DedupConfig,
    warehouse_root: str,
    run_id: str | None = None,
) -> dict[str, DataFrame]:
    """Dedupe `new_pages` against the completed base run in
    `warehouse_root`. Returns the updated global views plus the deltas;
    commits delta tables and rewrites the global clusters/canonical
    tables in the warehouse. Holds the single-writer lease for the
    duration (the pointer-swap/registry protocol is serial-writer by
    design; a second concurrent writer fails fast with LeaseHeldError)."""
    import re

    run_id = run_id or uuid.uuid4().hex[:12]
    if not re.fullmatch(r"[0-9a-zA-Z]+", run_id):
        # the run_id names the delta tables; restricting its alphabet keeps
        # the delta-table names unambiguous (a '-' or '_' in a run_id would
        # previously produce names the discovery path could misparse)
        raise ValueError(
            f"run_id must be alphanumeric ([0-9a-zA-Z]+), got {run_id!r}"
        )
    wh = Warehouse(
        root=warehouse_root, config_hash=cfg.config_hash(), run_id=run_id
    )
    with wh.lease():
        return _run_incremental_locked(spark, new_pages, cfg, wh)


def _run_incremental_locked(
    spark: SparkSession,
    new_pages: DataFrame,
    cfg: DedupConfig,
    wh: Warehouse,
) -> dict[str, DataFrame]:
    missing = [t for t in BASE_TABLES if not wh.is_complete(t)]
    if missing:
        raise ValueError(
            f"incremental run needs a completed base run; missing {missing}"
        )

    old_pages = _with_deltas(spark, wh, "pages")
    old_sigs = _with_deltas(spark, wh, "signatures")
    old_buckets = _with_deltas(spark, wh, "buckets")
    old_clusters = wh.read(spark, "clusters")  # always global (rewritten)

    # guard: a url may appear in exactly one batch. Left-semi from the
    # committed side with the (typically much smaller) new batch broadcast:
    # the old url column streams through one pruned columnar scan and the
    # limit(1) short-circuits — no shuffle of the committed corpus.
    dup_urls = (
        old_pages.select("url")
        .join(F.broadcast(new_pages.select("url")), "url", "left_semi")
        .limit(1)
    )
    if dup_urls.count() > 0:
        raise ValueError("new_pages contains urls already present in the base run")

    def commit_delta(table: str, df: DataFrame) -> DataFrame:
        """Commit `df` as this increment's delta of `table`, register it
        and read it back (pages keep the base's warc_day layout)."""
        name = f"{table}_delta_{wh.run_id}"
        df, by_day = stages.day_layout(df)
        wh.write(df, name, partition_by=by_day)
        wh.register_delta(table, name)
        return wh.read(spark, name)

    new_pages = commit_delta("pages", new_pages)
    # fused stage 1+2 on the new batch (same shape as pipeline.run): one
    # Arrow pass computes both deltas; buckets is a JVM explode of the
    # cached fused relation
    from pyspark import StorageLevel

    # both caches are released on every way out: a failed delta write
    # must not leave them pinned in a session that retries (streaming)
    fused = stages.stage12_fused(new_pages, cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sig_new = commit_delta("signatures", stages.signatures_from_fused(fused))
        buckets_new = commit_delta("buckets", stages.buckets_from_fused(fused))
    finally:
        fused.unpersist()

    sig_all = old_sigs.unionByName(sig_new)
    buckets_all = old_buckets.unionByName(buckets_new)
    pages_all = old_pages.unionByName(new_pages)

    cand = stages.stage3_candidates(
        sig_all, buckets_all, cfg, new_urls=sig_new.select("url")
    )
    try:
        verified_new = commit_delta(
            "verified_pairs",
            stages.stage4_verify(cand.candidates, sig_all, pages_all, cfg),
        )
    finally:
        cand.entries.unpersist()

    # old components enter as one star per cluster — their transitive
    # closure, so CC input is |old urls in clusters| + |new dup pairs|
    old_stars = old_clusters.filter(F.col("url") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("url_a"), F.col("url").alias("url_b")
    )
    edges = (
        verified_new.filter("is_dup").select("url_a", "url_b").unionByName(old_stars)
    )
    clusters = connected_components(
        edges, pages_all.select("url"), cfg, local_max_edges=LOCAL_CC_MAX_EDGES
    )
    # global outputs are REPLACED, not overwritten in place: a fresh
    # generation directory commits first, then the pointer swaps atomically
    # — a crash mid-rewrite leaves the previous committed generation intact
    wh.replace(clusters, "clusters")
    clusters = wh.read(spark, "clusters")
    canonical, by_day = stages.day_layout(
        stages.stage6_canonical(clusters, pages_all)
    )
    wh.replace(canonical, "canonical_pages", partition_by=by_day)

    # last commit of the increment: mark it end-to-end complete so
    # compact() may fold its deltas (a crash before this line leaves the
    # attempt rollback-able and never compactable — by design)
    wh.mark_increment_committed(wh.run_id)
    return {
        "signatures_delta": sig_new,
        "buckets_delta": buckets_new,
        "verified_pairs_delta": verified_new,
        "clusters": clusters,
        "canonical_pages": wh.read(spark, "canonical_pages"),
    }
