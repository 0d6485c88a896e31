"""Incremental dedup: fold a NEW batch of pages into a completed base run
without recomputing old-old work (the daily-crawl story at the 100 TB
design point; SURVEY.md §2.9's incremental note made real).

`run_incremental` runs the same stage composition as a fresh run
(`pipeline.execute`) and passes it only data: how each table commits
(`_COMMITS`) and the committed global state the batch folds into (the
`_with_deltas` views of pages, signatures and buckets, plus the old
clusters). What is incremental vs recomputed:
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
    A dup-heavy increment takes the same exact-dup contraction a fresh
    run takes (the `cluster` build in pipeline._compose).

Append semantics: the delta tables (`DELTA_TABLES` as `<table>_delta_
<run_id>`) commit under the same manifest protocol, in the background
like a fresh run's tables, and are recorded in the warehouse's delta
registry after their manifest (catalog.register_delta — discovery never
lists directories); they are folded into the global view read by
SUBSEQUENT increments (`_with_deltas`), so increments chain. `clusters`
and `canonical_pages` are global outputs replaced each increment via the
atomic generation-pointer swap (catalog.replace), so a crash mid-rewrite
can never lose the previous committed generation. `candidate_pairs` and
`dropped_buckets` are not committed. (An Iceberg deployment appends the
deltas as snapshots of the base tables instead of suffixed directories —
same commit semantics, one writer seam in catalog.py.)

Known, documented divergence from a full recompute: old-old pairs keep
the verdicts of the base run even if the union corpus would have pushed
their bucket over the cap (the full run would then drop those pairs
entirely). Append-only retention is the desired behavior for a dedup
service — once two docs are known duplicates, more data cannot un-know
it.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import pipeline, stages
from .catalog import Warehouse
from .cc import connected_components  # noqa: F401  perfbench/spans.py wraps this name
from .config import DedupConfig

#: the tables an increment commits as `<table>_delta_<run_id>`, in order
DELTA_TABLES = ("pages", "signatures", "buckets", "verified_pairs")
#: the tables a completed base run has committed
BASE_TABLES = (*DELTA_TABLES, "clusters")
# how an increment commits each pipeline table (pipeline.execute): the
# global clusters/canonical views are replaced whole; the stage-3 tables
# are left out, so candidates are built only as verify's input and the
# dropped-bucket report is never computed
_COMMITS = {
    **dict.fromkeys(DELTA_TABLES, "delta"),
    "clusters": "replace",
    "canonical_pages": "replace",
}


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
    wh = Warehouse(
        root=warehouse_root,
        config_hash=cfg.config_hash(),
        run_id=run_id or f"compact{uuid.uuid4().hex[:8]}",
    )
    folded: dict[str, list[str]] = {}
    with wh.lease():
        done = wh.committed_increments()
        for table in DELTA_TABLES:
            # GC the superseded PLAIN base directory: at 10^12 docs leaving
            # the old pages snapshot behind doubles the footprint. A crash
            # here just re-runs it next compact.
            wh.retire_plain(table)
            # finish any crashed prior compaction's GC FIRST: a delta both
            # registered and folded (so not active) was already folded into
            # the live generation — retire it before this compaction swaps
            # in a new pointer whose `includes` would no longer list it
            # (leaving it registered past that swap would double-count it).
            active = wh.active_deltas(table)
            for d in wh.registered_deltas(table):
                if d not in active:
                    wh.unregister_delta(table, d)
            # fold ONLY deltas of increments that committed end-to-end
            # (catalog increment log): a crashed attempt's partial deltas
            # must stay visible to rollback_increment for the replay —
            # folding them would bake partial state into the base and make
            # the rerun's url-overlap guard reject its own batch
            committed = {wh.delta(table, r) for r in done}
            deltas = [d for d in active if d in committed and wh.is_complete(d)]
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
            wh.retire_plain(table)
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
        missing = [t for t in BASE_TABLES if not wh.is_complete(t)]
        if missing:
            raise ValueError(
                f"incremental run needs a completed base run; missing {missing}"
            )
        # the global state before this increment: the views are built
        # before its own deltas are registered
        prior = {
            t: _with_deltas(spark, wh, t) for t in ("pages", "signatures", "buckets")
        }
        prior["clusters"] = wh.read(spark, "clusters")  # always global (replaced)

        # guard: a url may appear in exactly one batch. Left-semi from the
        # committed side with the (typically much smaller) new batch
        # broadcast: the old url column streams through one pruned columnar
        # scan and the limit(1) short-circuits — no shuffle of the
        # committed corpus.
        dup_urls = (
            prior["pages"].select("url")
            .join(F.broadcast(new_pages.select("url")), "url", "left_semi")
            .limit(1)
        )
        if dup_urls.count() > 0:
            raise ValueError("new_pages contains urls already present in the base run")

        pipeline.execute(spark, wh, new_pages, cfg, _COMMITS, prior=prior)
        # every commit has landed: mark the increment end-to-end complete
        # so compact() may fold its deltas (a crash before this line leaves
        # the attempt rollback-able and never compactable — by design)
        wh.mark_increment_committed(run_id)
        return {
            "signatures_delta": wh.read(spark, wh.delta("signatures")),
            "buckets_delta": wh.read(spark, wh.delta("buckets")),
            "verified_pairs_delta": wh.read(spark, wh.delta("verified_pairs")),
            "clusters": wh.read(spark, "clusters"),
            "canonical_pages": wh.read(spark, "canonical_pages"),
        }
