"""Table IO + checkpoint manifests (SURVEY.md §2.1 S1/S3, §7.2 item 5).

The IMPLEMENTED backend is parquet directories + an atomic
`_MANIFEST.json` commit marker (no Iceberg runtime jar exists in this
sandbox — verified — and vendoring one is impossible offline, so an
Iceberg code path would be untestable dead code; this module is the
single seam where a deployment would swap in
`df.writeTo(t).createOrReplace()` + catalog DDL with `days(warc_ts)`
partitioning, see docs/SCALE.md for that mapping). The manifest carries
(stage, run_id, config_hash, rows, schema, wall_ms, written_at) so a
resumed run can (a) detect a completed stage and skip it, and (b) refuse
to mix outputs produced under a different config (SURVEY.md §2.6 O4;
BASELINE.json:6 "resumes mid-pipeline"); `schema` lets a read skip
Spark's parquet schema inference, a Spark job per read.

Commit semantics: a table is visible iff its commit marker exists; a
partial write (crash mid-stage) leaves no marker and is overwritten on
resume — snapshot-commit behavior restated for a filesystem, which is
what makes the kill/resume test (tests/test_resume.py) meaningful.

No other module knows the warehouse's files; they all go through
`Warehouse`. Under the root:
  - `<table>/` with its `_MANIFEST.json`: a base run's tables;
  - `<table>_delta_<run_id>/`: an increment's deltas (`delta`), listed
    in `_DELTAS.json` once committed;
  - `<table>__gen_*/` behind `<table>.POINTER.json` (`dir`, `run_id`,
    `includes`): tables rewritten by `replace`;
  - `_INCREMENTS.json`: the increments that committed end to end;
  - `_LEASE.json`: the single-writer lease;
  - `_STREAM_BATCH_<id>.done`: the streaming micro-batches that finished;
  - `stage_metrics/`: per-partition metrics rows, one parquet file per
    commit.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from typing import ClassVar, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

MANIFEST = "_MANIFEST.json"


def _load(path: str, default):
    """The JSON document at `path`, or `default` when there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _commit(path: str, obj) -> None:
    """Write `obj` as JSON to `path` atomically: a reader sees the old
    document or the new one, never a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


class LeaseHeldError(RuntimeError):
    """Another live writer holds this warehouse's lease."""


@dataclass
class Warehouse:
    """A directory of stage tables for one dedup run."""

    root: str
    config_hash: str
    run_id: str

    def path(self, table: str) -> str:
        """Physical directory for `table`. Tables rewritten by increments
        (clusters/canonical_pages) are versioned: a `<table>.POINTER.json`
        at the warehouse root names the current generation directory, and
        the pointer file is the unit of atomic replacement (os.replace) —
        so a crash mid-rewrite leaves the previous committed generation
        fully readable (the in-place-overwrite hazard of rewriting an
        already-committed table is gone). No pointer file -> the plain
        directory, as written by a base run."""
        gen = self._read_pointer(table)
        return os.path.join(self.root, gen if gen is not None else table)

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.POINTER.json")

    def _read_pointer(self, table: str, key: str = "dir"):
        """Field `key` of `table`'s pointer file; None without a pointer."""
        return _load(self._pointer_path(table), {}).get(key)

    # -- single-writer lease --------------------------------------------------
    # The pointer-swap / delta-registry protocol assumes SERIAL writers
    # (replace() GCs generations a concurrent rewrite could still be
    # reading). The lease makes that assumption enforced instead of
    # implicit: run / run_incremental / run_stream / compact acquire it for
    # the duration. Host-local by design (pid liveness via kill(pid, 0)) —
    # the sandbox-testable stand-in for the catalog-level lock an Iceberg
    # deployment gets from atomic snapshot commits; same single seam as the
    # rest of this module. Re-entrant within one process, so streaming's
    # foreachBatch can call run/run_incremental under its own lease.
    LEASE = "_LEASE.json"

    def _lease_path(self) -> str:
        return os.path.join(self.root, self.LEASE)

    @staticmethod
    def _proc_start(pid: int):
        """Process start time (clock ticks since boot, /proc/<pid>/stat
        field 22) — distinguishes a pid from a later process that reused
        the same pid. None when /proc is unavailable (non-Linux) or the
        pid is gone."""
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            # comm (field 2) may contain spaces/parens: parse after the
            # LAST ')' — everything before it is pid+comm
            return int(stat[stat.rindex(b")") + 2:].split()[19])
        except (OSError, ValueError, IndexError):
            return None

    @classmethod
    def _lease_is_live(cls, cur: dict) -> bool:
        """True iff the lease payload `cur` names a process that is still
        the SAME process that wrote it. A recorded start time that no
        longer matches /proc means the pid was recycled — the writer is
        dead even though kill(pid, 0) succeeds (ADVICE r4: pid reuse must
        not wedge acquisition permanently)."""
        pid = cur.get("pid")
        if not isinstance(pid, int):
            return False
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            pass  # pid exists under another uid — fall through to starttime
        rec = cur.get("pid_start")
        if rec is not None:
            now = cls._proc_start(pid)
            if now is not None and now != rec:
                return False  # pid recycled: the recorded writer is dead
        return True

    def acquire_lease(self) -> bool:
        """Take the warehouse writer lease. Returns True if this call took
        ownership (caller must release), False for a re-entrant acquire by
        the process that already owns it. Raises LeaseHeldError if a LIVE
        other process holds it; a lease whose writer is dead (crashed, or
        its pid recycled) is taken over via an atomic compare-and-swap.

        Race-free by construction (ADVICE r4, both TOCTOU holes):
        (a) the payload is staged in a private file and PUBLISHED with
            os.link() — creation is atomic and the visible lease file is
            complete from its first visible instant, so no reader can ever
            observe an empty/corrupt lease written by a healthy writer;
        (b) stale-lease takeover first CLAIMS the dead lease by renaming
            it to a private per-attempt name — exactly one concurrent
            taker wins that rename — then verifies the claimed bytes are
            the same lease it judged stale (token match) before publishing
            its own lease with the same link() step. A fresh lease that
            slipped in between read and rename is restored and the loop
            re-evaluates, so a live writer is never displaced."""
        os.makedirs(self.root, exist_ok=True)
        path = self._lease_path()
        token = uuid.uuid4().hex
        stage = path + f".stage.{token}"
        with open(stage, "w") as f:
            f.write(json.dumps(
                {"pid": os.getpid(), "pid_start": self._proc_start(os.getpid()),
                 "run_id": self.run_id, "token": token,
                 "acquired_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
            ))
            f.flush()
            os.fsync(f.fileno())
        try:
            for _ in range(64):  # bounded: each retry means another writer acted
                try:
                    os.link(stage, path)  # atomic publish, never empty
                    return True
                except FileExistsError:
                    pass
                try:
                    with open(path) as f:
                        cur = json.load(f)
                except FileNotFoundError:
                    continue  # holder released between link and read: retry
                except (json.JSONDecodeError, OSError):
                    cur = {}  # torn/legacy lease: no healthy writer writes one
                if cur.get("pid") == os.getpid() and self._lease_is_live(cur):
                    return False  # re-entrant: outer caller owns + releases
                if self._lease_is_live(cur):
                    raise LeaseHeldError(
                        f"warehouse {self.root} is locked by live pid "
                        f"{cur.get('pid')} (run_id {cur.get('run_id')!r}, "
                        f"since {cur.get('acquired_at')})"
                    )
                # stale: CAS-claim the dead lease (one winner per rename)
                claim = path + f".claim.{token}"
                try:
                    os.rename(path, claim)
                except FileNotFoundError:
                    continue  # another taker claimed it first: re-evaluate
                try:
                    with open(claim) as f:
                        claimed = json.load(f)
                except (json.JSONDecodeError, OSError):
                    claimed = cur  # unreadable == the torn lease we judged stale
                if claimed.get("token") not in (cur.get("token"), None):
                    # a FRESH lease slipped in between our read and our
                    # rename — put it back (link: no-op if its writer
                    # already re-published) and re-evaluate it
                    try:
                        os.link(claim, path)
                    except FileExistsError:
                        pass
                    os.remove(claim)
                    continue
                os.remove(claim)  # the dead lease is retired; publish ours
            raise LeaseHeldError(
                f"warehouse {self.root}: lease churned through 64 "
                f"acquire attempts — giving up"
            )
        finally:
            try:
                os.remove(stage)
            except FileNotFoundError:
                pass

    def release_lease(self) -> None:
        """Drop the lease iff this process still owns it (a takeover by
        someone else after our crash-recovery window must not be deleted)."""
        path = self._lease_path()
        try:
            with open(path) as f:
                if json.load(f).get("pid") == os.getpid():
                    os.remove(path)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            pass

    @contextlib.contextmanager
    def lease(self):
        """`with wh.lease(): ...` — re-entrant holder of the single-writer
        lease."""
        owned = self.acquire_lease()
        try:
            yield
        finally:
            if owned:
                self.release_lease()

    # -- commit protocol ----------------------------------------------------
    def is_complete(self, table: str) -> bool:
        m = self.manifest(table)
        return m is not None and m.get("config_hash") == self.config_hash

    def manifest(self, table: str) -> Optional[dict]:
        """Committed manifest of `table` (None if absent)."""
        return _load(os.path.join(self.path(table), MANIFEST), None)

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[list[str]] = None,
    ) -> dict:
        """Overwrite a stage table then atomically commit its manifest.

        The parquet write itself is not atomic across files, but the
        manifest rename is; readers (`read`, `is_complete`) only trust
        committed tables, which restores all-or-nothing stage semantics.

        The committed row count comes from an Observation riding the write
        job itself — no post-write footer scan on the driver (at millions
        of files that scan serializes the pipeline on driver IO;
        VERDICT r1 "what's wrong" #3). The manifest also carries the
        table's read `schema` (`_read_schema`), so `read` never runs a
        Spark job to infer it from a parquet footer.
        """
        if self._read_pointer(table) is not None:
            # a versioned table must be rewritten through replace(): an
            # in-place overwrite of the current generation is exactly the
            # crash hazard the pointer protocol exists to remove
            raise ValueError(
                f"table {table!r} is pointer-versioned; use replace()"
            )
        out = self.path(table)
        t0 = time.monotonic()
        obs = Observation(f"rows_{table}_{uuid.uuid4().hex[:8]}")
        w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows = int(obs.get["rows"])
        manifest = {
            "table": table,
            "run_id": self.run_id,
            "config_hash": self.config_hash,
            "rows": rows,
            "schema": _read_schema(df.schema, partition_by).json(),
            "wall_ms": wall_ms,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _commit(os.path.join(out, MANIFEST), manifest)
        return manifest

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: Optional[list[str]] = None,
        includes: Optional[list[str]] = None,
    ) -> dict:
        """Atomically replace an already-committed table (the increment
        path rewrites the global clusters/canonical_pages views): write a
        fresh generation directory `<table>__gen_<run_id>`, commit its
        manifest, then swap the pointer file with os.replace. Readers
        resolve the pointer, so they see either the old generation or the
        new one — never a half-written directory. The superseded
        generation is deleted after the swap. Retention contract: the base
        run's PLAIN directory (no `__gen_` suffix) is kept by replace()
        itself, but it is NOT permanent — `incremental.compact()` retires
        it once a generation pointer covers it (the pointer file
        is then the single source of truth; keeping the plain dir would
        double storage for no reader benefit). A base snapshot that must
        outlive compaction belongs in an external backup, not here."""
        # The generation name must be unique PER ATTEMPT, not per run_id:
        # a crashed increment is replayed under the same run_id
        # (streaming keys it by batch_id), and if the crashed attempt had
        # already swapped the pointer, a run_id-keyed name would collide
        # with the LIVE generation — deleting it before a rewrite whose
        # lineage still reads it (the new clusters are computed FROM the
        # old ones). Unique names make the rewrite read-safe; superseded
        # and orphaned generations are GC'd only after the swap.
        gen = f"{table}__gen_{self.run_id}_{uuid.uuid4().hex[:6]}"
        manifest = self.write(df, gen, partition_by=partition_by)
        # `includes`: delta tables FOLDED INTO this generation
        # (compaction). Riding the pointer file makes fold + skip one
        # atomic commit: active_deltas() subtracts this list, so a crash
        # after the swap but before the registry GC can never
        # double-count a folded delta (dedup/incremental.py::compact).
        _commit(
            self._pointer_path(table),
            {"dir": gen, "run_id": self.run_id, "includes": sorted(includes or [])},
        )
        # GC the superseded generation plus any orphans left by crashed
        # attempts (safe under the increment protocol's single-writer,
        # serial-increments discipline: nothing can be reading them once
        # the pointer has moved on).
        for d in os.listdir(self.root):
            if d.startswith(f"{table}__gen_") and d != gen:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return manifest

    # -- delta registry (incremental runs; see dedup/incremental.py) --------
    DELTAS = "_DELTAS.json"
    # serializes this process's registry read-modify-replaces: an
    # increment's background commits register their deltas concurrently
    _registry_lock: ClassVar[threading.Lock] = threading.Lock()

    def delta(self, table: str, run_id: Optional[str] = None) -> str:
        """The name increment `run_id` (default: this warehouse's run_id)
        commits its delta of `table` under."""
        return f"{table}_delta_{run_id or self.run_id}"

    def register_delta(self, table: str, delta_table: str) -> None:
        """Record a committed `<table>_delta_*` in the warehouse's delta
        registry (atomic read-modify-replace). Discovery of prior deltas
        reads THIS list, not a directory listing — the registry is part of
        the commit metadata, so a delta is visible to later increments iff
        it was registered after its manifest committed."""
        p = os.path.join(self.root, self.DELTAS)
        with self._registry_lock:
            reg = _load(p, {})
            lst = reg.setdefault(table, [])
            if delta_table not in lst:
                lst.append(delta_table)
            _commit(p, reg)

    def registered_deltas(self, table: str) -> list[str]:
        return list(_load(os.path.join(self.root, self.DELTAS), {}).get(table, []))

    def active_deltas(self, table: str) -> list[str]:
        """Registered deltas NOT already folded into the table's current
        generation (the pointer's `includes` list) — what a global view
        must union on top of the base read. This is the read-side half of
        compaction's atomicity: the pointer swap publishes the folded
        generation AND retires its source deltas in one os.replace."""
        folded = set(self._read_pointer(table, "includes") or [])
        return [d for d in self.registered_deltas(table) if d not in folded]

    def unregister_delta(self, table: str, delta_table: str) -> bool:
        """Remove a delta from the registry AND delete its directory — the
        rollback half of the delta protocol (dedup/streaming.py rolls back
        a crashed micro-batch attempt before replaying it). The registry
        entry is removed first so a crash mid-rollback leaves the delta
        invisible (an unregistered directory is never read), then the
        directory itself is deleted. Returns whether there was either to
        remove."""
        p = os.path.join(self.root, self.DELTAS)
        with self._registry_lock:
            reg = _load(p, {})
            found = delta_table in reg.get(table, [])
            if found:
                reg[table].remove(delta_table)
                _commit(p, reg)
        path = os.path.join(self.root, delta_table)
        found = found or os.path.exists(path)
        shutil.rmtree(path, ignore_errors=True)
        return found

    def retire_plain(self, table: str) -> None:
        """Delete `table`'s plain base directory once its pointer names a
        generation: readers resolve the pointer, so the base run's
        original directory is dead storage. Idempotent; a table without
        a pointer keeps its directory."""
        if self._read_pointer(table) is not None:
            shutil.rmtree(os.path.join(self.root, table), ignore_errors=True)

    # -- increment commit log -------------------------------------------------
    INCREMENTS = "_INCREMENTS.json"

    def mark_increment_committed(self, run_id: str) -> None:
        """Record that increment `run_id` finished EVERY commit (deltas +
        global rewrites). compact() folds only deltas of run_ids in this
        log: a crashed attempt's partial deltas must stay rollback-able
        (dedup/streaming.py replays them), never baked into the base."""
        p = os.path.join(self.root, self.INCREMENTS)
        done = _load(p, [])
        if run_id not in done:
            done.append(run_id)
        _commit(p, done)

    def committed_increments(self) -> list[str]:
        return list(_load(os.path.join(self.root, self.INCREMENTS), []))

    # -- streaming micro-batch markers (dedup/streaming.py) -----------------
    def _batch_marker(self, batch_id: int) -> str:
        return os.path.join(self.root, f"_STREAM_BATCH_{batch_id}.done")

    def batch_done(self, batch_id: int) -> bool:
        """Whether streaming micro-batch `batch_id` was fully processed."""
        return os.path.exists(self._batch_marker(batch_id))

    def mark_batch_done(self, batch_id: int) -> None:
        # an EMPTY first micro-batch is marked before any stage has
        # created the warehouse root
        os.makedirs(self.root, exist_ok=True)
        _commit(self._batch_marker(batch_id), "done")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The committed `table`, scanned with the schema its manifest
        carries: no schema-inference job."""
        if not self.is_complete(table):
            raise FileNotFoundError(
                f"table {table!r} has no committed manifest for config "
                f"{self.config_hash} under {self.root}"
            )
        schema = T.StructType.fromJson(json.loads(self.manifest(table)["schema"]))
        return spark.read.schema(schema).parquet(self.path(table))

    # -- per-partition metrics: the `stage_metrics` table (S4) --------------
    METRICS_TABLE = "stage_metrics"

    def partition_metrics(self, table: str) -> list[dict]:
        """Per-file (= per write-task partition) rows/bytes of the
        committed `table` from parquet footers — the per-partition lineage
        record (S4/U5)."""
        path = self.path(table)
        files = sorted(
            os.path.join(dp, fn)
            for dp, _d, fns in os.walk(path)
            for fn in fns
            if fn.endswith(".parquet")
        )
        return [
            {
                "partition_id": i,
                "file": os.path.relpath(f, path),
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": os.path.getsize(f),
            }
            for i, f in enumerate(files)
        ]

    def write_metrics_table(self, spark: SparkSession, rows: list[dict]) -> None:
        """Append per-partition metrics rows to the `stage_metrics` parquet
        table, which downstream jobs query with `spark.read.parquet`. One
        file per call (a pipeline commit appends its table's rows), written
        by the driver with pyarrow: no Spark job. The file lands under a
        dot-prefixed name Spark's reader skips and is committed by
        os.replace, so a crash never leaves a partial file visible."""
        if not rows:
            return
        names = METRICS_SCHEMA.fieldNames()
        table = pa.Table.from_pylist(
            [{k: r.get(k) for k in names} for r in rows],
            schema=to_arrow_schema(METRICS_SCHEMA),
        )
        out = os.path.join(self.root, self.METRICS_TABLE)
        os.makedirs(out, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(out, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, name))

    def read_metrics(self) -> list[dict]:
        """Every row of the `stage_metrics` table as a dict, read by the
        driver (no Spark job); [] before the first commit."""
        out = os.path.join(self.root, self.METRICS_TABLE)
        if not os.path.isdir(out):
            return []
        return pq.read_table(out, schema=to_arrow_schema(METRICS_SCHEMA)).to_pylist()


#: the `stage_metrics` table's columns
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("file", T.StringType()),
        T.StructField("rows", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("config_hash", T.StringType()),
        T.StructField("ts", T.StringType()),
    ]
)


def _read_schema(schema: T.StructType, partition_by: Optional[list[str]]) -> T.StructType:
    """The schema `spark.read.parquet` reports for a table written from a
    DataFrame of `schema`: the data columns in order, then the
    `partition_by` columns, with every field, array element and map value
    nullable."""

    def nullable(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, nullable(f.dataType), True, f.metadata) for f in dt]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(nullable(dt.keyType), nullable(dt.valueType), True)
        return dt

    parts = partition_by or []
    fields = [f for f in schema if f.name not in parts] + [schema[c] for c in parts]
    return nullable(T.StructType(fields))
