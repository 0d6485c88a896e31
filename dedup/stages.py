"""The dedup pipeline stages as declarative DataFrame transforms
(SURVEY.md §3.2). Each function takes DataFrames in, returns DataFrames out;
materialization/checkpointing lives in pipeline.py. Catalyst handles column
pruning/pushdown; the only Python on the data path is the Arrow UDF surface
in udfs.py.

Scale notes (the 100 TB story, SURVEY.md §4):
- Candidate generation never self-joins the bucket table. One window
  count marks every bucket entry with its key's cardinality and the cap
  filters oversized groups row-wise BEFORE any collect_list — a hot
  bucket (boilerplate pages) is sorted and counted on one task, never
  exploded into all pairs or collected into a giant list (A1 + A2).
- Probe rows multiply shuffle volume by <= T/bands compared to adding
  tables; that trade (probe more, shuffle less) is the [MPLSH] idea
  restated for Spark (SURVEY.md §4).
- Verification is pure JVM expression work (zip_with/aggregate/bit_count)
  except the rare winnow-substring confirm, which runs only on pairs the
  cheap rules left undecided.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from .config import DedupConfig
from . import udfs


# ---------------------------------------------------------------------------
# fused stage 1+2 — one Arrow pass emits signatures AND bucket entries
# ---------------------------------------------------------------------------
def stage12_fused(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages -> fused (signature columns + per-doc bucket-entry arrays).

    Stages 1 and 2 share ONE Arrow pass: bucket entries are computed
    from the minhash/runnerup matrices while they are still in NumPy,
    and stage 2 is a JVM explode (buckets_from_fused) over the fused
    relation — no second JVM->Python->JVM copy of the signature arrays.
    P1: only (url, text) crosses into Arrow; html and every other column
    are pruned at the scan. P2: the lang allowlist (when set) filters at
    the scan too — pushed into the parquet reader. Values match the
    oracle bit-for-bit (tests/test_parity.py)."""
    src = pages
    if cfg.lang_allow is not None:
        src = src.filter(F.col("lang").isin(*cfg.lang_allow))
    narrow = src.select("url", "text").filter(F.col("text").isNotNull())
    return narrow.mapInPandas(udfs.make_fused_fn(cfg), udfs.FUSED_SCHEMA)


FUSED_BUCKET_COLS = ("b_band", "b_key", "b_probe", "b_rank")


def signatures_from_fused(fused: DataFrame) -> DataFrame:
    return fused.drop(*FUSED_BUCKET_COLS)


def buckets_from_fused(fused: DataFrame) -> DataFrame:
    """Explode the fused bucket-entry arrays into bucket rows (band,
    bucket_key, url, is_probe, probe_rank) — pure whole-stage-codegen JVM
    work (arrays_zip + explode)."""
    e = fused.select(
        "url",
        F.explode(F.arrays_zip(*FUSED_BUCKET_COLS)).alias("e"),
    )
    return e.select(
        F.col("e.b_band").alias("band"),
        F.col("e.b_key").alias("bucket_key"),
        "url",
        F.col("e.b_probe").alias("is_probe"),
        F.col("e.b_rank").alias("probe_rank"),
    )


# ---------------------------------------------------------------------------
# stage 3 — candidate generation (lsh ∪ sha ∪ simhash ∪ winnow)
# ---------------------------------------------------------------------------
class CandidateOut(NamedTuple):
    candidates: DataFrame      # url_a, url_b, sources (comma-joined, sorted)
    dropped_buckets: DataFrame # generator, key, n
    entries: DataFrame         # persisted window-marked entries —
                               # unpersist() once candidates AND
                               # dropped_buckets are materialized


def _simhash_combo_entries(
    signatures: DataFrame, cfg: DedupConfig, carry: tuple[str, ...] = ()
) -> DataFrame:
    """SimHash combination blocking (Manku et al. 2007): one packed key per
    combo-subset of blocks, all built as JVM bit expressions — hamming <=
    blocks - combo ⇒ at least one combo key equal. Returns
    (k1=combo_id, k2=packed_key, url, *carry) — `carry` names extra
    signature columns to ride along in the entries (so consumers that need
    them avoid a join back to the corpus-sized signatures relation)."""
    import itertools

    widths = cfg.simhash_block_widths
    offsets = [sum(widths[:i]) for i in range(len(widths))]

    def _block(i: int):
        return F.shiftrightunsigned(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    combo_structs = []
    for cid, idxs in enumerate(
        itertools.combinations(range(cfg.pigeonhole_blocks), cfg.pigeonhole_combo)
    ):
        key = F.lit(0).cast("long")
        for i in idxs:
            key = key * F.lit(1 << widths[i]) + _block(i)
        combo_structs.append(F.struct(F.lit(cid).alias("k1"), key.alias("k2")))
    return signatures.select(
        "url", *carry, F.explode(F.array(*combo_structs)).alias("b")
    ).select(F.col("b.k1").alias("k1"), F.col("b.k2").alias("k2"), "url", *carry)


def _dense_url_ids(urls: DataFrame) -> DataFrame:
    """(url) -> (url, uid): dense 0-based ids ordered by url, so uid
    comparisons and min-uid aggregates are isomorphic to their url forms
    (the canonical-pair `<` and the sha tier's min-root survive encoding
    unchanged).

    Why ids: stage 3 shuffles the entries relation (~64 rows/doc) and the
    candidate-pair aggregate; an 8-byte long in place of a ~50-byte url
    string roughly halves the bytes of the two biggest shuffles in the
    pipeline and makes their sort/compare keys fixed-width. Encode/decode
    joins ride AQE (the dictionary side broadcasts at fixture scale; at
    10^12 docs a deployment materializes the dictionary once at stage-1
    commit and bucket-aligns it instead of rebuilding per run —
    docs/SCALE.md).

    Assignment is partition-parallel (range-partition by url, offsets
    from per-partition counts, row_number within partition) — NOT a
    single-partition global window, which would serialize at scale. The
    map is a pure function of the url SET: range bounds move partition
    boundaries, never the global sort order, so ids are deterministic
    across runs, parallelism levels, and task retries."""
    from pyspark.sql import Window

    n_part = max(2, urls.sparkSession.sparkContext.defaultParallelism)
    s = (
        urls.distinct()
        .repartitionByRange(n_part, "url")
        .withColumn("pid", F.spark_partition_id())
        # eager localCheckpoint: ONE materialization of the range shuffle.
        # Without it the counts job and the consuming plan would each
        # re-run repartitionByRange with independently SAMPLED bounds,
        # and offsets computed from one partitioning would be applied to
        # the other — colliding ids. (Same lineage-freeze pattern as the
        # CC iterations, dedup/cc.py.)
        .localCheckpoint()
    )
    cnts = {r["pid"]: r["count"] for r in s.groupBy("pid").count().collect()}
    offsets, acc = {}, 0
    for pid in sorted(cnts):
        offsets[pid] = acc
        acc += cnts[pid]
    omap = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = Window.partitionBy("pid").orderBy("url")
    # checkpoint the FINAL projection too: stage 3 plugs the dictionary
    # into ~6 subtrees (three generator encodes, the sha tier, both
    # decode sides); without this each consumer re-runs the row_number
    # window's exchange+sort over the whole url set.
    return s.select(
        "url",
        (F.row_number().over(w) - 1 + omap[F.col("pid")]).alias("uid"),
    ).localCheckpoint()


def stage3_candidates(
    signatures: DataFrame,
    buckets: DataFrame,
    cfg: DedupConfig,
    new_urls: DataFrame | None = None,
) -> CandidateOut:
    """All four candidate generators in one unified pass.

    new_urls (incremental mode, dedup/incremental.py): a DataFrame[url]
    marking the NEW batch. When set, only pairs touching at least one new
    url are emitted — old-old pairs were already decided by the base run.
    The bucket cap still counts ALL members (old + new), matching what a
    full from-scratch run over the union would drop.

    The three capped generators (lsh buckets, simhash combo keys, winnow
    fingerprints) normalize to a single entries relation
    (gen, k1 int, k2 long, uid long, is_probe) — uid is a dense url id
    (see _dense_url_ids), so every shuffle in this stage moves fixed-width
    longs, not url strings — and share ONE window count -> cap filter ->
    collect_list -> explode pipeline. The window's exchange is the only
    shuffle of the entries relation: collect_list reuses its hash
    partitioning. The sha tier stays separate (star pairs are linear and
    skew-proof, no cap needed).

    Skew defense (A1): the cap filter drops hot-bucket rows BEFORE
    collect_list, so no task ever materializes an oversized member list;
    a hot key's rows land on one window task, which sorts and counts
    them (spilling if huge) but never collects them.
    """
    from pyspark import StorageLevel

    # URL -> dense-id encode FIRST: every url in buckets/signatures
    # appears in the signatures relation (incremental passes the
    # base+delta union), so one dictionary covers all three generators
    # and the sha tier. The encode joins are map-side at fixture scale
    # (AQE broadcasts the dictionary) and every shuffle in this stage —
    # the lsh J2 dedup, the entries window, the pair distinct —
    # then moves 8-byte longs instead of url strings; pairs decode back
    # to urls once, after the cap and the distinct. is_new rides the
    # dictionary row, so the incremental mark costs no extra join over
    # entries.
    marks = (
        new_urls.select("url").withColumn("is_new", F.lit(True))
        if new_urls is not None
        else None
    )
    ids = _dense_url_ids(signatures.select("url"))
    if marks is not None:
        ids = ids.join(marks, "url", "left").withColumn(
            "is_new", F.coalesce("is_new", F.lit(False))
        )
    else:
        ids = ids.withColumn("is_new", F.lit(True))

    # (a) LSH home+probe buckets. Dedup (band, key, uid) with the home row
    # winning (min over boolean: false < true) — J2 semantics; this
    # groupBy shuffles encoded rows (is_new is per-uid constant, so max
    # is just "carry it through the agg").
    # Generator codes (tinyint, decoded only in the tiny dropped/sources
    # outputs) keep the entries shuffle key fully numeric: (g, k1, k2,
    # uid) sorts/compares as fixed-width machine words, no string keys
    # anywhere in the hot shuffles. GEN_NAMES maps g back; SRC_CODES maps
    # g to the source code whose numeric order equals the alphabetical
    # order of source names ('lsh','sha','simhash','winnow'), so sorting
    # codes before decoding equals sorting names.
    GEN_NAMES = F.array(F.lit("lsh"), F.lit("simhash"), F.lit("winnow"))
    lsh_entries = (
        buckets.join(ids, "url")
        .groupBy("band", "bucket_key", "uid")
        .agg(
            F.min("is_probe").alias("is_probe"),
            F.max("is_new").alias("is_new"),
        )
        .select(
            F.lit(0).cast("tinyint").alias("g"),
            F.col("band").alias("k1"),
            F.col("bucket_key").alias("k2"),
            "uid",
            "is_probe",
            "is_new",
        )
    )
    # (c) simhash combination keys, (d) winnow fingerprints (distinct per
    # doc via np.unique in the kernel, so count(*) == distinct urls).
    # Both encode map-side (broadcast dict); at 10^12 docs a deployment
    # materializes uids into the committed tables at stage-1 commit so
    # these joins disappear entirely (docs/SCALE.md).
    sim_entries = _simhash_combo_entries(signatures, cfg).join(ids, "url").select(
        F.lit(1).cast("tinyint").alias("g"), "k1", "k2", "uid",
        F.lit(False).alias("is_probe"), "is_new",
    )
    fp_entries = signatures.select(
        "url",
        F.lit(2).cast("tinyint").alias("g"),
        F.lit(0).alias("k1"),
        F.explode("fingerprints").alias("k2"),
        F.lit(False).alias("is_probe"),
    ).join(ids, "url").select("g", "k1", "k2", "uid", "is_probe", "is_new")
    # The window count marks every row with its key's cardinality; the
    # collect_list groupBy reuses the window's HashPartitioning(keys), so
    # EnsureRequirements inserts no second exchange. The marked relation
    # is persisted (spilling): consumed by the collect_list pass and by
    # the dropped_buckets action.
    # Scale note: at the 100 TB design point the entries relation (~64
    # rows/doc) exceeds any executor-storage budget — there a deployment
    # flips this to no-persist and lets both passes recompute from the
    # committed buckets/signatures tables (two cheap columnar scans);
    # persist wins only while entries fit the cluster's storage fraction.
    from pyspark.sql import Window

    keys = ["g", "k1", "k2"]
    entries = (
        lsh_entries.unionByName(sim_entries)
        .unionByName(fp_entries)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dropped = (
        entries.filter(F.col("n") > cfg.max_bucket)
        .groupBy(*keys)
        .agg(F.max("n").alias("n"))
        .select(
            F.element_at(GEN_NAMES, F.col("g") + 1).alias("generator"),
            # key strings match the oracle's per-generator formats
            F.when(F.col("g") == 2, F.col("k2").cast("string"))
            .otherwise(F.concat_ws(":", "k1", "k2"))
            .alias("key"),
            F.col("n").cast("long").alias("n"),
        )
    )
    grouped = (
        entries.filter((F.col("n") >= 2) & (F.col("n") <= cfg.max_bucket))
        .groupBy(*keys)
        .agg(
            F.collect_list(F.struct("uid", "is_probe", "is_new")).alias(
                "members"
            )
        )
    )
    # Pair explosion stays JVM-side (double explode inside whole-stage
    # codegen — no Arrow round-trip): a bucket of n members -> n^2 generated
    # rows filtered to canonical pairs, bounded by max_bucket. The
    # probe-probe exclusion ([MPLSH] J2: the index stores home buckets,
    # perturbation applies to queries) only bites for gen='lsh' — other
    # generators have is_probe=false everywhere.
    # source codes ordered like the source names sort: lsh=0 sha=1
    # simhash=2 winnow=3 (g 0/1/2 -> s 0/2/3)
    SRC_NAMES = F.array(
        F.lit("lsh"), F.lit("sha"), F.lit("simhash"), F.lit("winnow")
    )
    g_to_src = F.array(
        F.lit(0).cast("tinyint"), F.lit(2).cast("tinyint"),
        F.lit(3).cast("tinyint"),
    )
    pairs = (
        grouped.select("g", F.explode("members").alias("a"), F.col("members"))
        .select("g", "a", F.explode("members").alias("b"))
        .filter(F.col("a.uid") < F.col("b.uid"))
        .filter(~(F.col("a.is_probe") & F.col("b.is_probe")))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(
            F.col("a.uid").alias("uid_a"),
            F.col("b.uid").alias("uid_b"),
            F.element_at(g_to_src, F.col("g") + 1).alias("s"),
        )
    )

    # (b) exact tier: identical text_sha -> star pairs, in id space. The
    # root = min-uid member == min-url member (uid/url order isomorphism);
    # min over a (uid, is_new) struct carries the root's incremental mark
    # without a join back.
    sha_members = (
        signatures.select("text_sha", "url")
        .join(ids, "url")
        .select("text_sha", "uid", "is_new")
    )
    sha_roots = (
        sha_members.groupBy("text_sha")
        .agg(
            F.min(F.struct("uid", "is_new")).alias("r"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select("text_sha", F.col("r.uid").alias("uid_a"), F.col("r.is_new").alias("_na"))
    )
    sha_pairs = (
        sha_members.join(sha_roots, "text_sha")
        .filter(F.col("uid") != F.col("uid_a"))
        .filter(F.col("_na") | F.col("is_new"))
        .select("uid_a", F.col("uid").alias("uid_b"))
        .withColumn("s", F.lit(1).cast("tinyint"))
    )

    # distinct + sources agg on fixed-width (long, long, tinyint) rows,
    # THEN one decode join back to urls (uid order == url order keeps
    # url_a < url_b) and one code->name transform (code order == name
    # order, so sorting before decoding is sorting the names).
    cand_ids = pairs.unionByName(sha_pairs).groupBy("uid_a", "uid_b").agg(
        F.array_sort(F.collect_set("s")).alias("srcs")
    )
    dict_a = ids.select(F.col("uid").alias("uid_a"), F.col("url").alias("url_a"))
    dict_b = ids.select(F.col("uid").alias("uid_b"), F.col("url").alias("url_b"))
    candidates = (
        cand_ids.join(dict_a, "uid_a")
        .join(dict_b, "uid_b")
        .select(
            "url_a",
            "url_b",
            F.array_join(
                F.transform(
                    "srcs", lambda s: F.element_at(SRC_NAMES, s + 1)
                ),
                ",",
            ).alias("sources"),
        )
    )
    return CandidateOut(candidates, dropped, entries)


# ---------------------------------------------------------------------------
# stage 4 — verification
# ---------------------------------------------------------------------------
def stage4_verify(
    candidates: DataFrame,
    signatures: DataFrame,
    pages: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Attach exact signature-Jaccard, Hamming distance and sha equality to
    every candidate pair (all JVM-side expressions); run the substring
    confirm only where a winnow-sourced pair is still undecided.

    Dup rule (identical to dedup/oracle.py stage 4):
        is_dup = sha_equal OR jaccard >= tau OR hamming <= radius
                 OR (winnow-sourced AND shares a normalized substring
                     >= min_substr)

    Both signature-attach joins take the whole signatures relation:
    pruning each side to the pair urls first (a semi-join prefilter)
    measured slower and shuffled more on the benchmark corpora, where
    most docs sit in some candidate pair (docs/SCALE.md).
    """
    mh_col = F.col("minhash")
    if cfg.minhash_scheme == "oph":
        # OPH slots are 31-bit values (hashing.oph_minhash_with_runnerup):
        # shuffle them as array<int> — the minhash arrays attached to both
        # pair sides are this stage's dominant shuffle payload, and the
        # narrow cast halves it. Equality-count Jaccard is representation-
        # independent; the stored table keeps schema-stable long arrays
        # (the classic kxu scheme needs 61-bit values).
        mh_col = F.col("minhash").cast("array<int>")
    sig = signatures.select(
        "url", mh_col.alias("minhash"), "simhash", "text_sha"
    )
    sig_a = sig.select(
        F.col("url").alias("url_a"),
        F.col("minhash").alias("mh_a"),
        F.col("simhash").alias("sim_a"),
        F.col("text_sha").alias("sha_a"),
    )
    sig_b = sig.select(
        F.col("url").alias("url_b"),
        F.col("minhash").alias("mh_b"),
        F.col("simhash").alias("sim_b"),
        F.col("text_sha").alias("sha_b"),
    )
    joined = candidates.join(sig_a, "url_a").join(sig_b, "url_b")

    matches = F.aggregate(
        F.zip_with(
            "mh_a", "mh_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = joined.select(
        "url_a",
        "url_b",
        (matches / F.lit(float(cfg.minhash_k))).alias("jaccard"),
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        .cast("long")
        .alias("hamming"),
        (F.col("sha_a") == F.col("sha_b")).alias("sha_equal"),
        "sources",
    )
    cheap = (
        F.col("sha_equal")
        | (F.col("jaccard") >= F.lit(cfg.jaccard_tau))
        | (F.col("hamming") <= F.lit(cfg.hamming_radius))
    )
    base = base.withColumn("cheap_dup", cheap)

    # Substring confirm for ALL winnow-sourced pairs, derived from the
    # `candidates` input (not from `base`): deriving from base would put
    # the expensive join subtree on both sides of a diamond and Spark would
    # evaluate it twice. Checking a superset is cheap — identical texts
    # short-circuit at the first matching gram — and the oracle's rule
    # (substr only decides what the cheap rules left open) is restored
    # below by masking with ~cheap_dup.
    need = candidates.filter(F.col("sources").contains("winnow")).select(
        "url_a", "url_b"
    )
    texts = pages.select("url", "text")
    # No broadcast hints: `need` can be large on pathological corpora —
    # AQE broadcasts at runtime when the measured size allows.
    need_t = (
        texts.join(need, texts["url"] == need["url_a"])
        .select("url_a", "url_b", F.col("text").alias("text_a"))
        .join(texts, F.col("url") == F.col("url_b"))
        .select("url_a", "url_b", "text_a", F.col("text").alias("text_b"))
    )
    substr = need_t.mapInPandas(udfs.make_substr_fn(cfg), udfs.SUBSTR_SCHEMA)

    verified = (
        base.join(substr, ["url_a", "url_b"], "left")
        .withColumn(
            "substr_ok",
            F.coalesce("substr_ok", F.lit(False)) & ~F.col("cheap_dup"),
        )
        .withColumn("is_dup", F.col("cheap_dup") | F.col("substr_ok"))
        .select(
            "url_a", "url_b", "jaccard", "hamming",
            "sha_equal", "substr_ok", "is_dup", "sources",
        )
    )
    return verified


# ---------------------------------------------------------------------------
# stage 6 — canonical pick + report (W1, A6)
# ---------------------------------------------------------------------------
def stage6_canonical(clusters: DataFrame, pages: DataFrame) -> DataFrame:
    """Per cluster keep the earliest warc_ts (tie: min url) as canonical.
    `text` passes through untouched (byte-identity invariant)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy("warc_ts", "url")
    return (
        pages.join(clusters, "url")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_canonical", F.col("rn") == 1)
        .drop("rn")
    )


def cluster_report(clusters: DataFrame) -> DataFrame:
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_clusters")).orderBy("size")
