"""Stage 5 — connected components via alternating large-star / small-star
(Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"),
expressed entirely in DataFrame ops (SURVEY.md §2.3 J4, §2.4 A3/A4).

Node labels are url strings; string ordering makes the converged root of
each component its minimum url, matching the union-find oracle's
cluster_id = min(url) convention exactly (dedup/oracle.py UnionFind.union).

Scale mechanics (BASELINE.json:6 names each of these explicitly):
- the per-node min-neighbor aggregation supports an explicit SALTED
  two-stage mode (A2, cfg.cc_salted_agg) for extreme reducer skew; by
  default Spark's map-side partial aggregation provides the two-stage
  combine at one shuffle (see _min_by_key).
- every iteration materializes via localCheckpoint(eager=True): the
  iterative plan would otherwise grow by ~4 joins per round and Catalyst
  re-analysis would dominate (§7.2 item 3). Convergence is O(log n) rounds.
- convergence test is a one-pass (count, bit_xor(xxhash64)) fingerprint of
  the canonical edge set — no exceptAll anti-join over the full edge list,
  and XOR-fold cannot overflow under ANSI mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .config import DedupConfig


def _min_by_key(df: DataFrame, key: str, val: str, cfg: DedupConfig) -> DataFrame:
    """groupBy(key).min(val) -> (key, mn).

    With cfg.cc_salted_agg the aggregation runs as an explicit two-stage
    salted pass (A2): stage A groups by (key, crc32(val) % S), stage B
    merges the S partials — a celebrity node fans its reduce work across S
    reducers. Default off: Spark's map-side partial aggregation already
    provides the two-stage combine for min, at one shuffle instead of two.
    """
    if not cfg.cc_salted_agg:
        return df.groupBy(key).agg(F.min(val).alias("mn"))
    partial = df.groupBy(
        key, (F.crc32(F.col(val)) % cfg.salt_buckets).alias("_salt")
    ).agg(F.min(val).alias("_pmin"))
    return partial.groupBy(key).agg(F.min("_pmin").alias("mn"))


def _large_star(edges: DataFrame, cfg: DedupConfig) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = _min_by_key(sym, "u", "v", cfg)
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("u", "mn").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(edges: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Direct each edge large->small; connect each small neighbor (and u
    itself) to the minimum small neighbor."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = _min_by_key(d, "u", "v", cfg)
    out1 = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    out2 = mins.select("u", F.col("mn").alias("v"))
    return out1.union(out2).where(F.col("u") != F.col("v")).distinct()


def _checkpoint_with_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """localCheckpoint(eager) the edge set AND compute its order-
    insensitive (count, xor-fold) fingerprint in the SAME action via an
    Observation — one job per iteration instead of two (checkpoint +
    collect), halving the serial chain of the CC loop. Edges are distinct,
    so XOR cancellation of duplicates cannot occur; greatest/least inside
    xxhash64 canonicalizes direction."""
    import uuid as _uuid

    from pyspark.sql import Observation

    obs = Observation(f"cc_fp_{_uuid.uuid4().hex[:8]}")
    out = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(greatest(u, v), least(u, v)))").alias("h"),
    ).localCheckpoint(eager=True)
    got = obs.get
    return out, (int(got["n"] or 0), int(got["h"] or 0))


#: pipeline default for the driver-local CC fast path (see
#: connected_components(local_max_edges=...)): below this edge count the
#: per-iteration Spark job overhead dominates the actual union-find work,
#: so the exact computation moves to the driver. 2M edges of ~60-byte urls
#: is ~250 MB driver-side — well inside the driver heap, and orders of
#: magnitude below what the distributed path exists for. After exact-dup
#: contraction, even heavily-duplicated corpora land under this at
#: billions of raw docs only when dup structure is extreme; the
#: distributed iterate path remains the 100 TB route.
LOCAL_CC_MAX_EDGES = 2_000_000


def _local_union_find_labels(spark, pdf) -> DataFrame:
    """Exact driver-side union-find over a SMALL collected edge set
    (pandas columns u, v): returns (url, cluster_id = min url of its
    component) for every node that appears in an edge — the same rows the
    distributed star fixpoint produces (roots may label themselves; the
    caller's left-join + coalesce tail is insensitive to that
    difference). Deterministic: no ordering dependence, labels are
    component minima by construction."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"], pdf["v"]):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min root; the exact component minimum is still
            # resolved independently in the pass below
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    comp_min: dict[str, str] = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    # A pandas frame goes to the JVM as Arrow batches and plans as a
    # LocalRelation (broadcast, no Python workers); a list of rows plans
    # as an RDD that a Python-worker job converts. Measured warm, 600
    # labels joined to 1,400 urls on 4 cores: 229 ms against 107 ms.
    nodes = list(parent)
    labels = pd.DataFrame(
        {"url": nodes, "cluster_id": [comp_min[find(n)] for n in nodes]}
    )
    return spark.createDataFrame(labels, schema="url string, cluster_id string")


def connected_components_contracted(
    dup_pairs: DataFrame,
    all_nodes: DataFrame,
    sha_map: DataFrame,
    cfg: DedupConfig,
    local_max_edges: int = 0,
) -> DataFrame:
    """Exact-duplicate contraction before CC (the 100 TB move: on real
    crawls 30-60% of docs are byte-identical; the replicated bench corpus
    is 94%). All urls sharing a `text_sha` collapse to their min-url
    representative; CC runs over representative edges only; members
    inherit their representative's cluster id.

    Exactness: the sha tier emits star pairs for every sha group, and
    sha_equal pairs are always dup edges (stages.stage4_verify), so each
    sha group is connected in `dup_pairs` — contracting it quotients by a
    relation FINER than connectivity, and the quotient partition lifts
    back exactly. `cluster_id = min url in component` is preserved
    because each representative is the min url of its group, so the min
    over representatives equals the min over all urls. The parity suite
    (identical cluster partition vs the union-find oracle) gates this.

    sha_map: DataFrame[url, text_sha] (the signatures table).
    """
    rep = sha_map.groupBy("text_sha").agg(F.min("url").alias("rep"))
    urlrep = sha_map.join(rep, "text_sha").select("url", "rep")
    a = urlrep.select(F.col("url").alias("url_a"), F.col("rep").alias("rep_a"))
    b = urlrep.select(F.col("url").alias("url_b"), F.col("rep").alias("rep_b"))
    redges = (
        dup_pairs.join(a, "url_a")
        .join(b, "url_b")
        .select(F.col("rep_a").alias("url_a"), F.col("rep_b").alias("url_b"))
        .where(F.col("url_a") != F.col("url_b"))
        .distinct()
    )
    reps = urlrep.select(F.col("rep").alias("url")).distinct()
    rep_clusters = connected_components(
        redges, reps, cfg, local_max_edges=local_max_edges
    )
    mapped = urlrep.join(
        rep_clusters.withColumnRenamed("url", "rep"), "rep"
    ).select("url", "cluster_id")
    return (
        all_nodes.select("url")
        .join(mapped, "url", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("url")))
    )


def connected_components(
    dup_pairs: DataFrame,
    all_nodes: DataFrame,
    cfg: DedupConfig,
    local_max_edges: int = 0,
) -> DataFrame:
    """dup_pairs(url_a, url_b) + all_nodes(url) -> clusters(url, cluster_id).

    Every input url appears in the output; singletons map to themselves
    (oracle parity: oracle.py seeds union-find with every page url).

    local_max_edges > 0 enables the adaptive local-execution fast path
    (the same move AQE makes for small shuffles): a bounded
    limit(gate+1) collect probes the distinct edge set, and if it fits,
    the component labeling runs as exact union-find on the driver in ONE
    Spark job — instead of a checkpoint job plus O(log n) iteration jobs
    of fixed scheduling cost each. On overflow the probe is discarded
    (bounded: ~gate rows collected once) and the distributed iterate
    path runs as before. Output is identical (gated by tests/test_cc.py
    equivalence + the oracle parity suite); 0 disables the gate (the
    default for direct callers, so tests keep covering the distributed
    path — the pipeline passes LOCAL_CC_MAX_EDGES).
    """
    dedup_edges = (
        dup_pairs.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    if local_max_edges > 0:
        probe = dedup_edges.limit(local_max_edges + 1).toPandas()
        if len(probe) <= local_max_edges:
            labels_local = _local_union_find_labels(
                dup_pairs.sparkSession, probe
            )
            return (
                all_nodes.select("url")
                .join(labels_local, "url", "left")
                .withColumn(
                    "cluster_id", F.coalesce("cluster_id", F.col("url"))
                )
            )
    edges, prev_fp = _checkpoint_with_fingerprint(dedup_edges)
    converged = prev_fp[0] == 0
    for _ in range(cfg.cc_max_iters):
        if prev_fp[0] == 0:
            converged = True
            break
        e1 = _large_star(edges, cfg)
        edges, fp = _checkpoint_with_fingerprint(_small_star(e1, cfg))
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        # The groupBy-min labeling below is only a correct partition at the
        # star fixpoint; applying it to a non-star edge set would silently
        # return non-transitive cluster ids. O(log n) convergence makes this
        # unreachable at 50 iters in practice — fail loudly if it ever isn't.
        raise RuntimeError(
            f"connected_components did not converge in {cfg.cc_max_iters} "
            "iterations; raise cfg.cc_max_iters"
        )

    # At the fixpoint the edge set is a star per component: (node, root).
    # The groupBy-min is a no-op then, but guards the max-iters cutoff.
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        all_nodes.select("url")
        .join(labels.select(F.col("u").alias("url"), "cluster_id"), "url", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("url")))
    )
