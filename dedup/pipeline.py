"""End-to-end dedup pipeline orchestration with checkpoint/resume and
per-partition metrics (SURVEY.md §3.2; BASELINE.json:6).

`execute` composes the tables of `TABLES` once, in order, through one
stage helper (`_Stages`); `run` (a fresh or resumed run) and
`incremental.run_incremental` (a batch folded into a committed run) both
call it and differ only in data: how each table commits, and the
committed global state, if any, that the run folds into. Each table's
write + commit manifest is the resume point, the lineage cut, and where
per-partition metrics are harvested (one parquet file per write task =
one partition's lineage record), appended to the warehouse's
`stage_metrics` table as the commit lands.

Pipelined commits: a stage's compute runs on the driver thread (persist +
count where later stages reuse it); its write, commit and metrics append
run in a background thread while the next stage computes from the cached
relation, so a healthy run never serializes behind file IO + commit
barriers — the serial fraction scaling is most sensitive to
(docs/SCALE.md). The driver waits on writes only for `pages` (read
back), for every write before `verified_pairs` once verify is
materialized (so the stage-3 caches can go), for a delta or a replaced
table before a later stage reads it back, and at the end.

Resume: `run(..., resume=True)` skips any table committed under the SAME
config_hash; a crash mid-stage leaves no manifest, so the stage reruns
from its committed inputs. Skipped tables are read only when a later
build asks for them, so every committed/missing mix resumes through the
same composition (tests/test_resume.py: byte-identical final tables).
"""

from __future__ import annotations

import functools
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stages
from .catalog import Warehouse
from .cc import (
    LOCAL_CC_MAX_EDGES,
    connected_components,
    connected_components_contracted,
)
from .config import DedupConfig

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
        return execute(
            spark, wh, pages, cfg, dict.fromkeys(TABLES, "write"),
            resume=resume, stop_after=stop_after,
        )


def execute(
    spark: SparkSession, wh: Warehouse, pages: DataFrame, cfg: DedupConfig,
    commits: dict[str, str], prior: dict[str, DataFrame] | None = None,
    resume: bool = False, stop_after: str | None = None,
) -> RunResult:
    """Compose stages 0-6 over `pages` into `wh`, whose lease the caller
    holds; every commit has landed when this returns.

    commits: how each `TABLES` name commits — "write" (under its own
    name), "delta" (as `<table>_delta_<run_id>`, registered after its
    manifest) or "replace" (a new generation behind the table's pointer);
    a table it leaves out is not committed, so its build stays lazy and
    runs only if a later build reads it. prior: the committed global
    pages, signatures, buckets and clusters this run folds into (none
    for a fresh run). Each commit appends its table's per-partition
    metrics rows to the warehouse's `stage_metrics` table, so the rows
    of every table committed before a failure survive it."""
    st = _Stages(spark, wh, commits, resume, stop_after)
    try:
        _compose(st, pages, cfg, prior or {})
    except _Stop:
        pass
    finally:
        # no commit outlives the run (or its lease), no cache either
        for th in st.writes.values():
            th.join()
        st.release()
    st.join()  # re-raises a background failure
    return st.res


def _compose(
    st: _Stages, pages: DataFrame, cfg: DedupConfig, prior: dict[str, DataFrame]
) -> None:
    """Stages 0-6, each table through `st`. Builds are lambdas, so a
    skipped or uncommitted table costs nothing unless a later build reads
    it. Stages 1+2 run on this run's pages; stage 3, verify and canonical
    see `prior` ∪ this run."""

    def over(table: str, df: DataFrame) -> DataFrame:
        """`df` on top of the prior global view of `table`, if any."""
        return prior[table].unionByName(df) if table in prior else df

    # stage 0: snapshot the input (the Iceberg table stand-in; byte-identity
    # of `text` is checked against THIS table by the invariant tests),
    # laid out by warc_day (stages.day_layout)
    st("pages", lambda: pages)
    pages_t = st.read("pages")
    pages_all = over("pages", pages_t)

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
    # dropped_buckets, so its write rides in the background too. Folding
    # into prior state, only pairs touching this run's urls are emitted.
    @functools.cache
    def cand() -> stages.CandidateOut:
        out = stages.stage3_candidates(
            over("signatures", sigs()), over("buckets", buckets()), cfg,
            new_urls=sigs().select("url") if prior else None,
        )
        st.cached["entries"] = out.entries  # persisted by stage 3
        return out

    candidates = st("candidate_pairs", lambda: cand().candidates, cache=True)
    st("dropped_buckets", lambda: cand().dropped_buckets)

    # stage 4: by the time verify's (long) compute finishes, every
    # upstream write has landed; the join re-raises any background
    # failure, and once verify is materialized the stage-3 and fused
    # caches go before CC
    verified = st(
        "verified_pairs",
        lambda: stages.stage4_verify(
            candidates(), over("signatures", sigs()), pages_all, cfg
        ),
        cache=True,
    )
    st.join(*TABLES[: TABLES.index("verified_pairs")])

    # stage 5: CC over this run's dup pairs plus, when folding into a
    # committed run, its old clusters as one star per component — their
    # transitive closure, so CC input is |old clustered urls| + |new dup
    # pairs| and the partition equals a full run's over the union
    # (tests/test_incremental.py)
    def cluster() -> DataFrame:
        edges = verified().filter("is_dup").select("url_a", "url_b")
        st.release("fused", "entries", "candidate_pairs")
        if "clusters" in prior:
            old = prior["clusters"].filter(F.col("url") != F.col("cluster_id"))
            edges = edges.unionByName(old.select(
                F.col("cluster_id").alias("url_a"), F.col("url").alias("url_b")
            ))
        urls = pages_all.select("url")
        # Size-based plan choice: the exact-dup contraction costs two extra
        # joins and a second CC input prep, which only pays when verified
        # pairs dwarf the docs CC labels (base pages plus every active
        # pages delta, from the committed manifests) — the dup-heavy
        # regime it exists for (a replicated corpus runs ~32 pairs/doc; a
        # lightly-duplicated one runs ~3). Its sha map is the committed
        # global signatures view (the fused cache is gone by now): an
        # edge url missing from it would drop out of the inner join.
        wh = st.wh
        n_docs = sum(wh.manifest(t)["rows"] for t in ("pages", *wh.active_deltas("pages")))
        if st.counts["verified_pairs"] > 8 * max(1, n_docs):
            sha = over("signatures", st.read("signatures")).select("url", "text_sha")
            return connected_components_contracted(
                edges, urls, sha, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
            )
        return connected_components(
            edges, urls, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
        )

    clusters = st("clusters", cluster, cache=True)
    # stage 6: the canonical pick
    st("canonical_pages", lambda: stages.stage6_canonical(clusters(), pages_all))


class _Stop(Exception):
    """Raised by the stage helper once the `stop_after` table is done."""


class _Stages:
    """One run's stage helper and the caches and commits it holds."""

    def __init__(self, spark, wh: Warehouse, commits, resume: bool, stop_after):
        self.spark, self.wh, self.commits = spark, wh, commits
        self.resume, self.stop_after = resume, stop_after
        self.res = RunResult(warehouse=wh)
        self.counts: dict[str, int] = {}  # counted (or committed) rows
        self.cached: dict[str, DataFrame] = {}  # persisted, until release()
        self.writes: dict[str, threading.Thread] = {}
        self.errors: list[BaseException] = []

    def __call__(self, name: str, build, cache: bool = False):
        """Table `name` as a callable returning its DataFrame: the
        committed table when resuming; `build` itself, called on first
        use, when this run does not commit `name`; else `build()` with
        its commit started in the background. A table written under its
        own name is then reused in memory (persisted and counted here
        when `cache`); a delta or a replaced table is read back once its
        commit lands. A replacement's lineage may read the generation its
        swap deletes (an increment's clusters are computed from the old
        ones); a delta's consumers union it with the prior views' file
        scans, and with the delta's side fed from memory instead, an
        incremental_append call (perfbench, 4-core VM) ran 78 Spark jobs
        rather than 57. Raises _Stop after the `stop_after` table."""
        how = self.commits.get(name)
        if how is None:
            out = functools.cache(build)
        elif self.resume and self.wh.is_complete(name):
            self.res.stages_skipped.append(name)
            out = functools.cache(lambda: self.read(name))
        else:
            t0 = time.monotonic()
            df = build()
            if cache and how == "write":
                df = self.cache(name, df)
            self._commit(name, df, int((time.monotonic() - t0) * 1000))
            self.res.stages_run.append(name)
            if how == "write":
                out = lambda: df  # noqa: E731
            else:
                out = functools.cache(lambda: self.read(name))
        if name == self.stop_after:
            raise _Stop
        return out

    def table(self, name: str) -> str:
        """The warehouse table this run commits `name` as."""
        return self.wh.delta(name) if self.commits.get(name) == "delta" else name

    def read(self, name: str) -> DataFrame:
        """This run's committed `name`, read back once its commit lands."""
        self.join(name)
        table = self.table(name)
        self.counts.setdefault(name, self.wh.manifest(table)["rows"])
        return self.wh.read(self.spark, table)

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
        """Commit `name` in a background thread, which then appends its
        per-partition metrics rows (pyarrow footers; no Spark job) to the
        `stage_metrics` table. A row carries compute + write time."""
        df, by_day = stages.day_layout(df)
        wh, how, table = self.wh, self.commits[name], self.table(name)

        def write() -> None:
            try:
                t0 = time.monotonic()
                commit = wh.replace if how == "replace" else wh.write
                man = commit(df, table, partition_by=by_day)
                if how == "delta":
                    wh.register_delta(name, table)
                wall = compute_ms + int((time.monotonic() - t0) * 1000)
                rows = [
                    {
                        "run_id": wh.run_id,
                        "stage": name,
                        "wall_ms": wall,
                        "config_hash": wh.config_hash,
                        "ts": man["written_at"],
                        **p,
                    }
                    for p in wh.partition_metrics(table)
                ]
                wh.write_metrics_table(self.spark, rows)
            except BaseException as exc:  # re-raised by join()
                self.errors.append(exc)

        th = threading.Thread(target=write, daemon=True)
        th.start()
        self.writes[name] = th
