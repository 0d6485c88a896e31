"""The benchmark's workloads. Each one makes its inputs from the seed,
sets up warm, and runs a timed `call` whose output `check` compares
with the NumPy oracle's partition (computed after set-up, outside every
timing).

- fresh_light: `pipeline.run` on the synthesized corpus (plain CC path).
- incremental_append: a committed base run over ~90% of the same urls,
  then `incremental.run_incremental` on the rest; every call starts from
  a copy of the committed base warehouse.

`QueryMix` is the vector and contract query list that the traced
fresh_light run times once per query (perfbench/run.py).
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

import pandas as pd

import inputs

# a fifth of the sf0.1 fixture's 5,000 docs, so that every run with its
# oracle reference fits the benchmark's time budget; make_corpus plants
# copies on top (~1,400-1,500 pages)
N_DOCS = 1000
N_VECS = 500  # embeddings (the sf0.01 fixture size)
NEW_SHARE = 10  # incremental_append: 1 url in NEW_SHARE is in the new batch


def _input_bytes(pages: pd.DataFrame) -> int:
    return int(pages["text"].str.encode("utf-8").map(len).sum() + pages["html"].map(len).sum())


class _Pipeline:
    """Inputs, checks and per-layer facts shared by the pipeline workloads."""

    def __init__(self, work: str, seed: int):
        from dedup.config import DEFAULT

        self.work, self.seed, self.cfg = work, seed, DEFAULT
        self.sf_dir = os.path.join(work, "fixtures")

    def make_inputs(self) -> None:
        from dedup.synth import make_corpus

        inputs.write_fixtures(self.sf_dir, N_DOCS, N_VECS, self.seed)
        self.corpus = make_corpus(self.sf_dir, self.seed)
        self.text_by_url = dict(zip(self.corpus.pages["url"], self.corpus.pages["text"]))

    def compute_reference(self) -> None:
        """The NumPy oracle's cluster partition of the whole corpus, which
        every call's clusters must equal."""
        from dedup.oracle import run_oracle

        res = run_oracle(self.corpus.pages, self.cfg)
        self.oracle = dict(zip(res.clusters["url"], res.clusters["cluster_id"]))

    def _warehouse(self, root: str, run_id: str = "bench"):
        from dedup.catalog import Warehouse

        return Warehouse(root, self.cfg.config_hash(), run_id)

    def _snapshot(self, pages: pd.DataFrame, root: str) -> None:
        """Commit `pages` as the warehouse's input table, laid out the way
        bench.py and jobs/run_dedup.py lay it out."""
        from pyspark.sql import functions as F

        from dedup.synth import pages_schema, snapshot_partitions

        df = self.spark.createDataFrame(pages, schema=pages_schema())
        df = df.withColumn("warc_day", F.to_date("warc_ts"))
        n_parts = snapshot_partitions(int(_input_bytes(pages) * 1.1))
        self._warehouse(root).write(
            df.repartitionByRange(n_parts, "warc_day", "url"), "pages",
            partition_by=["warc_day"],
        )

    def _root(self, i: int) -> str:
        return os.path.join(self.work, "wh", f"call{i}")

    def _fresh_copy(self, src: str, i: int) -> str:
        root = self._root(i)
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(src, root)
        return root

    def _read(self, i: int, table: str, columns: list[str]) -> pd.DataFrame:
        return pd.read_parquet(self._warehouse(self._root(i)).path(table), columns=columns)

    def check(self, i: int) -> list[str]:
        """Clusters equal the oracle partition; canonical text is
        byte-identical per url; claimed-tier pair recall >= 0.99."""
        from dedup.synth import CLAIMED_TIERS

        errors = []
        cl = self._read(i, "clusters", ["url", "cluster_id"])
        got = dict(zip(cl["url"], cl["cluster_id"]))
        if len(cl) != len(got) or got != self.oracle:
            diff = sum(got.get(u) != c for u, c in self.oracle.items())
            errors.append(f"clusters differ from the oracle on {diff} urls")
        can = self._read(i, "canonical_pages", ["url", "text"])
        if (
            len(can) != len(self.text_by_url)
            or can["url"].nunique() != len(can)
            or any(self.text_by_url.get(u) != t for u, t in zip(can["url"], can["text"]))
        ):
            errors.append("canonical_pages text is not byte-identical per url")
        tp = self.corpus.truth_pairs
        tp = tp[tp["tier"].isin(CLAIMED_TIERS)]
        hits = sum(got.get(a) == got.get(b) for a, b in zip(tp["url_a"], tp["url_b"]))
        self.pair_recall = hits / max(1, len(tp))
        if self.pair_recall < 0.99:
            errors.append(f"pair recall {self.pair_recall:.4f} < 0.99")
        return errors

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._root(i), ignore_errors=True)

    def layer_facts(self, tracer, i: int) -> dict[str, float]:
        """Counts read after the traced call: committed tables, recounts
        of stage 3's outputs, and the files the call's commits wrote."""
        writes = tracer.called("write")
        ver = next(c.args[2] for c in writes if c.args[2].startswith("verified_pairs"))
        vp = self._read(i, ver, ["is_dup"])
        dup = int(vp["is_dup"].sum())
        cand = tracer.called("stage3_candidates")[0].out
        files = written = 0
        for c in writes:
            for dp, _d, fns in os.walk(c.args[0].path(c.args[2])):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        files += 1
                        written += os.path.getsize(os.path.join(dp, fn))
        return {
            "pipeline.pair_recall": self.pair_recall,
            "pipeline.written_mb_per_input_mb": written / self.input_bytes,
            "stage3.entries": cand.entries.count(),
            "stage3.dropped_buckets": cand.dropped_buckets.count(),
            "stage4.pairs": len(vp),
            "stage4.dup_pairs": dup,
            "stage4.precision": dup / max(1, len(vp)),
            "cc.edges": dup + self.old_star_edges,
            "catalog.files": files,
            "catalog.written_mb": written / 1e6,
        }


class FreshLight(_Pipeline):
    name = "fresh_light"
    old_star_edges = 0

    def setup(self, spark) -> None:
        self.spark = spark
        self.snap_root = os.path.join(self.work, "snapshot")
        self._snapshot(self.corpus.pages, self.snap_root)
        self.input_bytes = _input_bytes(self.corpus.pages)
        # warm-up: one untimed call pays JIT, codegen and worker start-up
        self.prepare(-1)
        self.call(-1)
        self.cleanup(-1)

    def prepare(self, i: int) -> None:
        root = self._fresh_copy(self.snap_root, i)
        self.pages = self._warehouse(root).read(self.spark, "pages")

    def call(self, i: int) -> None:
        from dedup.pipeline import run

        run(self.spark, self.pages, self.cfg, self._root(i), run_id=f"call{i}", resume=True)


class IncrementalAppend(_Pipeline):
    name = "incremental_append"

    def setup(self, spark) -> None:
        from dedup.pipeline import run
        from dedup.synth import pages_schema

        self.spark = spark
        pages = self.corpus.pages
        is_new = pages["url"].map(
            lambda u: zlib.crc32(f"{self.seed}:{u}".encode()) % NEW_SHARE == 0
        )
        self.base_root = os.path.join(self.work, "base")
        self._snapshot(pages[~is_new], self.base_root)
        wh = self._warehouse(self.base_root)
        run(spark, wh.read(spark, "pages"), self.cfg, self.base_root, run_id="base")
        base = pd.read_parquet(wh.path("clusters"), columns=["url", "cluster_id"])
        self.old_star_edges = int((base["url"] != base["cluster_id"]).sum())
        self.new_path = os.path.join(self.work, "new_pages")
        spark.createDataFrame(pages[is_new], schema=pages_schema()).write.parquet(self.new_path)
        # the base run is the warm-up: a first increment measured no slower
        # than later ones
        self.input_bytes = _input_bytes(pages[is_new])

    def prepare(self, i: int) -> None:
        self._fresh_copy(self.base_root, i)
        self.new_pages = self.spark.read.parquet(self.new_path)

    def call(self, i: int) -> None:
        from dedup.incremental import run_incremental

        run_incremental(self.spark, self.new_pages, self.cfg, self._root(i),
                        run_id=f"inc{i + 1}")


WORKLOADS = {w.name: w for w in (FreshLight, IncrementalAppend)}


#: (per-layer metric, query) in the order one pass runs them
QUERY_MIX = (
    ("mplsh.topk_ms", "mplsh_topk"),
    ("ivf.topk_ms", "ivf_topk"),
    ("semdedup.keep_ms", "semdedup_keep"),
    ("entry.quality_percentile_ms", "quality_percentile"),
    ("entry.length_deciles_ms", "length_deciles"),
    ("entry.cosine_near_dup_ms", "cosine_near_dup"),
    ("entry.ann_hyperplane_ms", "ann_hyperplane"),
    ("entry.ngram_decontam_ms", "ngram_decontam"),
)
CONTRACT = [q for _m, q in QUERY_MIX[3:]]


def query_references(sf_dir: str) -> dict[str, pd.DataFrame]:
    """Each query's reference answer: the DuckDB twin for the contract
    queries, the single-process NumPy reference for the vector ones."""
    import duckdb

    import __spark_entry__ as entry
    from dedup import contract_oracle as co

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        twins = entry.oracle_sql()
        ref = {q: con.execute(twins[q]).fetchdf() for q in CONTRACT}
        knn = "SELECT query_id, neighbor_id, round(dist_exact, 5) AS dist FROM knn"
        for q, frame in (("mplsh_topk", co._mplsh_reference_frame),
                         ("ivf_topk", co._ivf_reference_frame)):
            con.register("knn", frame(sf_dir))
            ref[q] = con.execute(knn).fetchdf()
            con.unregister("knn")
    finally:
        con.close()
    ref["semdedup_keep"] = co._semdedup_reference_frame(sf_dir)
    return ref


class QueryMix:
    """One client running the query list in a closed loop; one pass runs
    every query once and collects its result."""

    def __init__(self, spark, sf_dir: str, reference: dict[str, pd.DataFrame]):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from dedup.ivf import IvfConfig, ivf_topk
        from dedup.mplsh import MplshConfig, mplsh_topk
        from dedup.semdedup import SemDedupConfig, semdedup_keep

        emb = lambda: spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))  # noqa: E731
        first5 = F.col("vec_id") < 5
        contract = entry.queries()
        self.qs = {
            "mplsh_topk": lambda: mplsh_topk(emb(), MplshConfig(), k=5, query_filter=first5),
            "ivf_topk": lambda: ivf_topk(emb(), IvfConfig(), k=5, query_filter=first5),
            "semdedup_keep": lambda: semdedup_keep(emb(), SemDedupConfig()),
        }
        for q in CONTRACT:
            self.qs[q] = lambda q=q: contract[q](spark, sf_dir)
        self.reference = reference

    def run_pass(self) -> tuple[dict[str, float], list[str]]:
        """Latency in ms per query metric, and the queries whose result
        differs from the reference."""
        from check_contract import _canon, _hash

        ms, errors = {}, []
        for metric, q in QUERY_MIX:
            t0 = time.perf_counter()
            got = self.qs[q]().toPandas()
            ms[metric] = 1000 * (time.perf_counter() - t0)
            g, w = _canon(got), _canon(self.reference[q])
            if list(g.columns) != list(w.columns) or len(g) != len(w) or _hash(g) != _hash(w):
                errors.append(f"{q}: {len(g)} rows differ from the {len(w)}-row reference")
        return ms, errors

