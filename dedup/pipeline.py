"""End-to-end dedup pipeline orchestration with checkpoint/resume and
per-partition metrics (SURVEY.md §3.2; BASELINE.json:6).

`run` composes the tables of `TABLES` once, in order, through one stage
helper (`_Stages`). Each table's write + commit manifest is the resume
point, the lineage cut, and where per-partition metrics are harvested
(one parquet file per write task = one partition's lineage record).

Pipelined commits: a stage's compute runs on the driver thread (persist +
count where later stages reuse it); its write, commit and metrics harvest
run in a background thread while the next stage computes from the cached
relation, so a healthy run never serializes behind file IO + commit
barriers — the serial fraction scaling is most sensitive to
(docs/SCALE.md). The driver waits on writes only for `pages` (read
back), for every write before `verified_pairs` once verify is
materialized (so the stage-3 caches can go), and at the end.

Resume: `run(..., resume=True)` skips any table committed under the SAME
config_hash; a crash mid-stage leaves no manifest, so the stage reruns
from its committed inputs. Skipped tables are read only when a later
build asks for them, so every committed/missing mix resumes through the
same composition (tests/test_resume.py: byte-identical final tables).
"""

from __future__ import annotations

import functools
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from . import stages
from .catalog import Warehouse
from .cc import (
    LOCAL_CC_MAX_EDGES,
    connected_components,
    connected_components_contracted,
)
from .config import DedupConfig
from .spark_metrics import shuffle_totals

#: the pipeline's tables in commit order; also the valid `stop_after` names
TABLES = (
    "pages", "signatures", "buckets", "candidate_pairs",
    "dropped_buckets", "verified_pairs", "clusters", "canonical_pages",
)


@dataclass
class RunResult:
    warehouse: Warehouse
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)

    def df(self, spark: SparkSession, table: str) -> DataFrame:
        return self.warehouse.read(spark, table)


def _partition_metrics(path: str) -> list[dict]:
    """Per-file (= per write-task partition) rows/bytes from parquet
    footers — the per-partition lineage record (S4/U5)."""
    import pyarrow.parquet as pq

    out = []
    files = sorted(
        os.path.join(dp, fn)
        for dp, _d, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )
    for i, f in enumerate(files):
        md = pq.ParquetFile(f).metadata
        out.append(
            {
                "partition_id": i,
                "file": os.path.relpath(f, path),
                "rows": md.num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    return out


def _clusters(
    st: _Stages, verified: DataFrame, urls: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Stage 5 over the dup pairs of `verified`, with its size-based plan
    choice: the exact-dup contraction costs two extra joins and a second
    CC input prep, which only pays when verified pairs dwarf docs — the
    dup-heavy regime it exists for (a replicated corpus runs ~32
    pairs/doc; a lightly-duplicated one runs ~3). The contracted path's
    sha map reads the committed signatures table, so the fused cache is
    released before CC starts."""
    dup = verified.filter("is_dup").select("url_a", "url_b")
    n_docs = max(1, st.wh.manifest("pages")["rows"])
    if st.counts["verified_pairs"] > 8 * n_docs:
        sha = st.wh.read(st.spark, "signatures").select("url", "text_sha")
        return connected_components_contracted(
            dup, urls, sha, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
        )
    return connected_components(
        dup, urls, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
    )


def run(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    warehouse_root: str,
    run_id: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
) -> RunResult:
    """Run (or resume) the full dedup pipeline.

    pages: DataFrame with the mandated shape (url, warc_ts, html, text,
    lang). stop_after: a `TABLES` name to halt after (kill/resume tests).
    Holds the warehouse's single-writer lease for the duration
    (re-entrant, so streaming's foreachBatch can call this under its own
    lease; a concurrent second writer fails fast with LeaseHeldError).
    """
    if stop_after is not None and stop_after not in TABLES:
        raise ValueError(f"stop_after must be one of {TABLES}; got {stop_after!r}")
    wh = Warehouse(
        root=warehouse_root,
        config_hash=cfg.config_hash(),
        run_id=run_id or uuid.uuid4().hex[:12],
    )
    with wh.lease():
        if not resume and wh.is_complete("pages"):
            # Callers (jobs/run_dedup.py, bench.py) pass `pages` read from
            # this warehouse's own pages table; resume=False would
            # overwrite the path being read from (Spark error or data
            # loss). A non-resume rerun needs a fresh warehouse root.
            raise ValueError(
                f"resume=False on a warehouse that already has a committed "
                f"pages table ({wh.root}); use a fresh warehouse root"
            )
        st = _Stages(spark, wh, resume, stop_after)
        try:
            _compose(st, pages, cfg)
        except _Stop:
            pass
        finally:
            # no commit outlives the run (or its lease), no cache either
            for th in st.writes.values():
                th.join()
            st.release()
        st.join()  # re-raises a background failure
        # S4: this run's metrics also land as a Spark-written parquet
        # table (one append per run, not per stage)
        wh.write_metrics_table(spark, st.metrics)
        return st.res


def _compose(st: _Stages, pages: DataFrame, cfg: DedupConfig) -> None:
    """Stages 0-6, each table through `st`. Builds are lambdas, so a
    skipped table costs nothing unless a later build reads it."""
    # stage 0: snapshot the input (the Iceberg table stand-in; byte-identity
    # of `text` is checked against THIS table by the invariant tests),
    # laid out by warc_day (stages.day_layout)
    st("pages", lambda: pages)
    st.join("pages")
    pages_t = st.wh.read(st.spark, "pages")

    # stages 1+2: ONE Arrow pass (stages.stage12_fused) computes both
    # tables; each write is a cache-read + file IO. A resume with only one
    # of the two committed reruns the pass for the other.
    fused = functools.cache(
        lambda: st.cache("fused", stages.stage12_fused(pages_t, cfg))
    )
    sigs = st("signatures", lambda: stages.signatures_from_fused(fused()))
    buckets = st("buckets", lambda: stages.buckets_from_fused(fused()))

    # stage 3: candidates and the dropped-bucket report share the
    # persisted entries relation; nothing downstream reads
    # dropped_buckets, so its write rides in the background too
    @functools.cache
    def cand() -> stages.CandidateOut:
        out = stages.stage3_candidates(sigs(), buckets(), cfg)
        st.cached["entries"] = out.entries  # persisted by stage 3
        return out

    candidates = st("candidate_pairs", lambda: cand().candidates, cache=True)
    st("dropped_buckets", lambda: cand().dropped_buckets)

    # stage 4: by the time verify's (long) compute finishes, every
    # upstream write has landed; the join re-raises any background
    # failure and lets the stage-3 and fused caches go before CC
    verified = st(
        "verified_pairs",
        lambda: stages.stage4_verify(candidates(), sigs(), pages_t, cfg),
        cache=True,
    )
    st.join(*TABLES[: TABLES.index("verified_pairs")])
    st.release("fused", "entries", "candidate_pairs")

    # stage 5 (clusters), then stage 6 (canonical pick)
    clusters = st(
        "clusters",
        lambda: _clusters(st, verified(), pages_t.select("url"), cfg),
        cache=True,
    )
    st("canonical_pages", lambda: stages.stage6_canonical(clusters(), pages_t))


class _Stop(Exception):
    """Raised by the stage helper once the `stop_after` table is done."""


class _Stages:
    """One run's stage helper and the caches and commits it holds."""

    def __init__(self, spark, wh: Warehouse, resume: bool, stop_after):
        self.spark, self.wh = spark, wh
        self.resume, self.stop_after = resume, stop_after
        self.res = RunResult(warehouse=wh)
        self.counts: dict[str, int] = {}  # counted (or committed) rows
        self.cached: dict[str, DataFrame] = {}  # persisted, until release()
        self.writes: dict[str, threading.Thread] = {}
        self.errors: list[BaseException] = []
        self.metrics: list[dict] = []
        self.lock = threading.Lock()

    def __call__(self, name: str, build, cache: bool = False):
        """Table `name` as a callable returning its DataFrame: the
        committed table when resuming, else `build()` (persisted and
        counted here when `cache`) with its commit started in the
        background. Raises _Stop after the `stop_after` table."""
        if self.resume and self.wh.is_complete(name):
            self.res.stages_skipped.append(name)
            self.counts[name] = self.wh.manifest(name)["rows"]
            out = functools.cache(lambda: self.wh.read(self.spark, name))
        else:
            t0 = time.monotonic()
            df = build()
            if cache:
                df = self.cache(name, df)
            self._commit(name, df, int((time.monotonic() - t0) * 1000))
            self.res.stages_run.append(name)
            out = lambda: df  # noqa: E731
        if name == self.stop_after:
            raise _Stop
        return out

    def cache(self, key: str, df: DataFrame) -> DataFrame:
        """Persist (spilling) and count `df`; release(key) unpersists it."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.counts[key] = df.count()
        self.cached[key] = df
        return df

    def release(self, *keys: str) -> None:
        """Unpersist the named caches (all when none are named)."""
        for key in keys or list(self.cached):
            df = self.cached.pop(key, None)
            if df is not None:
                df.unpersist()

    def join(self, *names: str) -> None:
        """Wait for the named commits (default all); re-raise a failure."""
        for name in names or list(self.writes):
            th = self.writes.pop(name, None)
            if th is not None:
                th.join()
        if self.errors:
            raise self.errors[0]

    def _commit(self, name: str, df: DataFrame, compute_ms: int) -> None:
        """Write `name` in a background thread, which then harvests its
        per-partition metrics (pyarrow footers; no Spark job). A row
        carries compute + write time and the cumulative session
        shuffle/IO at commit (docs/SCALE.md's shuffle budget, measured;
        per-stage deltas blur under pipelined commits, totals are exact)."""
        df, by_day = stages.day_layout(df)
        wh = self.wh

        def write() -> None:
            try:
                t0 = time.monotonic()
                man = wh.write(df, name, partition_by=by_day)
                wall = compute_ms + int((time.monotonic() - t0) * 1000)
                shuf = {
                    f"cum_{k}": v for k, v in shuffle_totals(self.spark).items()
                }
                rows = [
                    {
                        "run_id": wh.run_id,
                        "stage": name,
                        "wall_ms": wall,
                        "config_hash": wh.config_hash,
                        "ts": man["written_at"],
                        **shuf,
                        **p,
                    }
                    for p in _partition_metrics(wh.path(name))
                ]
                with self.lock:
                    self.metrics.extend(rows)
                    wh.append_metrics(self.spark, rows)
            except BaseException as exc:  # re-raised by join()
                self.errors.append(exc)

        th = threading.Thread(target=write, daemon=True)
        th.start()
        self.writes[name] = th
