"""The dedup pipeline stages as declarative DataFrame transforms
(SURVEY.md §3.2). Each function takes DataFrames in, returns DataFrames out;
materialization/checkpointing lives in pipeline.py. Catalyst handles column
pruning/pushdown; the only Python on the data path is the Arrow UDF surface
in udfs.py.

Stages 1+2 are one Arrow pass and one committed table: `signatures`
carries each document's bucket entries as array columns, and bucket rows
are a JVM explode of it (`buckets_from_fused`) wherever a consumer needs
rows.

Scale notes (the 100 TB story, SURVEY.md §4):
- Candidate generation never self-joins the bucket rows. One window
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
# table layout — the one warc_day partitioning rule
# ---------------------------------------------------------------------------
def day_layout(df: DataFrame) -> tuple[DataFrame, list[str] | None]:
    """`df` and the partition columns to write it with: a table that
    carries `warc_ts` is written partitioned by `warc_day` (added here when
    absent) — the filesystem stand-in for Iceberg's days(warc_ts)
    partition transform (SURVEY §2.7 F10), so incremental window reads
    prune to the matching day directories (tests/test_partitioning.py)
    and base and delta pages stay schema-identical. Other tables are
    written unpartitioned."""
    if "warc_day" not in df.columns and "warc_ts" in df.columns:
        df = df.withColumn("warc_day", F.to_date("warc_ts"))
    return df, (["warc_day"] if "warc_day" in df.columns else None)


# ---------------------------------------------------------------------------
# stages 1+2 — one Arrow pass emits signatures WITH their bucket entries
# ---------------------------------------------------------------------------
def stage12_fused(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages -> the `signatures` table: signature columns plus each
    document's bucket entries as four array columns (udfs.BUCKET_COLS).

    Stages 1 and 2 share ONE Arrow pass: bucket entries are computed
    from the minhash/runnerup matrices while they are still in NumPy, and
    bucket rows are a JVM explode (buckets_from_fused) of this relation
    or of its commit — no second JVM->Python->JVM copy of the signature
    arrays. P1: only (url, text) crosses into Arrow; html and every other
    column are pruned at the scan. Values match the oracle bit-for-bit
    (tests/test_parity.py)."""
    narrow = pages.select("url", "text").filter(F.col("text").isNotNull())
    return narrow.mapInPandas(udfs.make_fused_fn(cfg), udfs.SIGNATURES_SCHEMA)


def buckets_from_fused(signatures: DataFrame) -> DataFrame:
    """Explode the signatures' bucket-entry arrays into bucket rows (band,
    bucket_key, url, is_probe, probe_rank) — pure whole-stage-codegen JVM
    work (arrays_zip + explode)."""
    e = signatures.select(
        "url",
        F.explode(F.arrays_zip(*udfs.BUCKET_COLS)).alias("e"),
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
    them avoid a join back to the corpus-sized signatures relation).

    The keys are one SQL string (one py4j call) rather than a Column tree
    built call by call: C(6,3) keys of three blocks cost ~400 py4j round
    trips as Columns. Block i is the unsigned shift of the simhash by its
    offset, masked to its width; a key packs its blocks MSB-first by
    multiply-add, as hashing.simhash_combo_keys does on the unsigned value."""
    import itertools

    widths = cfg.simhash_block_widths
    offsets = [sum(widths[:i]) for i in range(len(widths))]
    blocks = [
        f"(shiftrightunsigned(simhash, {o}) & {(1 << w) - 1})"
        for o, w in zip(offsets, widths)
    ]
    structs = []
    for cid, idxs in enumerate(
        itertools.combinations(range(cfg.pigeonhole_blocks), cfg.pigeonhole_combo)
    ):
        key = "CAST(0 AS BIGINT)"
        for i in idxs:
            key = f"({key}) * {1 << widths[i]} + {blocks[i]}"
        structs.append(f"named_struct('k1', {cid}, 'k2', {key})")
    return signatures.select(
        F.expr(f"inline(array({', '.join(structs)}))"), "url", *carry
    )


def _url_ids(urls: DataFrame) -> DataFrame:
    """(url) -> (url, uid): one unique long id per distinct url, in ONE
    eager job (the distinct's shuffle + monotonically_increasing_id).

    Why ids: stage 3 shuffles the entries relation (~64 rows/doc) and the
    candidate-pair aggregate; an 8-byte long in place of a ~50-byte url
    string roughly halves the bytes of the two biggest shuffles in the
    pipeline and makes their sort/compare keys fixed-width. Encode/decode
    joins ride AQE (the map broadcasts at fixture scale; at 10^12 docs a
    deployment materializes ids once at stage-1 commit and bucket-aligns
    them instead of rebuilding per run — docs/SCALE.md).

    The ids are unique but neither dense nor url-ordered, and they never
    leave stage 3: every url-order rule (pair orientation, the sha root)
    compares urls. The eager localCheckpoint freezes the map, so every
    consumer (three encode joins, the sha tier, both decode sides) sees
    the same ids — a recomputed monotonically_increasing_id depends on
    the distinct's partition layout."""
    return (
        urls.distinct()
        .select("url", F.monotonically_increasing_id().alias("uid"))
        .localCheckpoint()
    )


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
    (g tinyint, k1 int, k2 long, uid long, is_probe, is_new) — uid is a
    stage-local url id (see _url_ids), so every shuffle in this stage
    moves fixed-width longs, not url strings. The entries relation costs
    ONE shuffle: an explicit hash repartition on (g, k1, k2), which the
    lsh (key, uid) dedup, the window count, the cap filter's
    collect_list and the dropped-bucket report all reuse. The sha tier
    stays separate (star pairs are linear and skew-proof, no cap needed).

    Skew defense (A1): the cap filter drops hot-bucket rows BEFORE
    collect_list, so no task ever materializes an oversized member list;
    a hot key's rows land on one window task, which sorts and counts
    them (spilling if huge) but never collects them.
    """
    from pyspark import StorageLevel

    # URL -> id encode FIRST: every url in buckets appears in the
    # signatures relation (incremental passes the base+delta union),
    # so one id map covers all three generators and the sha tier. The
    # encode joins are map-side at fixture scale (AQE broadcasts the map)
    # and every shuffle in this stage — the entries exchange, the pair
    # distinct — then moves 8-byte longs instead of url strings; pairs
    # decode back to urls once, after the cap and the distinct. is_new
    # rides the id-map row, so the incremental mark costs no extra join
    # over entries.
    marks = (
        new_urls.select("url").withColumn("is_new", F.lit(True))
        if new_urls is not None
        else None
    )
    ids = _url_ids(signatures.select("url"))
    if marks is not None:
        ids = ids.join(marks, "url", "left").withColumn(
            "is_new", F.coalesce("is_new", F.lit(False))
        )
    else:
        ids = ids.withColumn("is_new", F.lit(True))

    # Generator codes (tinyint, decoded only in the tiny dropped/sources
    # outputs) keep the entries shuffle key fully numeric: (g, k1, k2,
    # uid) sorts/compares as fixed-width machine words, no string keys
    # anywhere in the hot shuffles. g is the source code itself (lsh=0,
    # simhash=2, winnow=3; the sha tier is 1), numbered so that numeric
    # order equals the alphabetical order of the source names: sorting
    # codes before decoding through SRC_NAMES equals sorting names.
    SRC_NAMES = F.array(
        F.lit("lsh"), F.lit("sha"), F.lit("simhash"), F.lit("winnow")
    )
    # (a) LSH home+probe bucket rows, raw: a doc can hit one (band, key)
    # as home and as probe(s); the (key, uid) dedup below keeps one row.
    lsh_entries = buckets.join(ids, "url").select(
        F.lit(0).cast("tinyint").alias("g"),
        F.col("band").alias("k1"),
        F.col("bucket_key").alias("k2"),
        "uid", "is_probe", "is_new",
    )
    # (c) simhash combination keys, (d) winnow fingerprints (distinct per
    # doc via np.unique in the kernel, so count(*) == distinct urls).
    # Both encode map-side (broadcast map); at 10^12 docs a deployment
    # materializes uids into the committed table at stage-1 commit so
    # these joins disappear entirely (docs/SCALE.md).
    sim_entries = _simhash_combo_entries(signatures, cfg).join(ids, "url").select(
        F.lit(2).cast("tinyint").alias("g"), "k1", "k2", "uid",
        F.lit(False).alias("is_probe"), "is_new",
    )
    fp_entries = signatures.select(
        "url",
        F.lit(3).cast("tinyint").alias("g"),
        F.lit(0).alias("k1"),
        F.explode("fingerprints").alias("k2"),
        F.lit(False).alias("is_probe"),
    ).join(ids, "url").select("g", "k1", "k2", "uid", "is_probe", "is_new")
    # ONE exchange: hash-partition the raw union on the key. The
    # (g, k1, k2, uid) dedup — J2 semantics, the home row wins (min over
    # boolean: false < true); is_new is per-uid constant, so max just
    # carries it — and the window partitioned by the key both accept
    # HashPartitioning(g, k1, k2), so EnsureRequirements adds no further
    # exchange, and neither does the collect_list groupBy below. The
    # dedup is a no-op for simhash and winnow rows: their keys are
    # already distinct per doc (one combo id each; np.unique'd
    # fingerprints). The marked relation is persisted (spilling):
    # consumed by the collect_list pass and by the dropped_buckets action.
    # Scale note: at the 100 TB design point the entries relation (~64
    # rows/doc) exceeds any executor-storage budget — there a deployment
    # flips this to no-persist and lets both passes recompute from the
    # committed signatures table (cheap columnar scans);
    # persist wins only while entries fit the cluster's storage fraction.
    from pyspark.sql import Window

    keys = ["g", "k1", "k2"]
    entries = (
        lsh_entries.unionByName(sim_entries)
        .unionByName(fp_entries)
        .repartition(*keys)
        .groupBy(*keys, "uid")
        .agg(
            F.min("is_probe").alias("is_probe"),
            F.max("is_new").alias("is_new"),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dropped = (
        entries.filter(F.col("n") > cfg.max_bucket)
        .groupBy(*keys)
        .agg(F.max("n").alias("n"))
        .select(
            F.element_at(SRC_NAMES, F.col("g") + 1).alias("generator"),
            # key strings match the oracle's per-generator formats
            F.when(F.col("g") == 3, F.col("k2").cast("string"))
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
    # rows filtered to one row per unordered pair (uid_a < uid_b), bounded
    # by max_bucket. The probe-probe exclusion ([MPLSH] J2: the index
    # stores home buckets, perturbation applies to queries) only bites for
    # gen='lsh' — other generators have is_probe=false everywhere.
    pairs = (
        grouped.select("g", F.explode("members").alias("a"), F.col("members"))
        .select("g", "a", F.explode("members").alias("b"))
        .filter(F.col("a.uid") < F.col("b.uid"))
        .filter(~(F.col("a.is_probe") & F.col("b.is_probe")))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(
            F.col("a.uid").alias("uid_a"),
            F.col("b.uid").alias("uid_b"),
            F.col("g").alias("s"),
        )
    )

    # (b) exact tier: identical text_sha -> star pairs, in id space. The
    # root is the min-URL member (ids carry no url order): min over a
    # (url, uid, is_new) struct picks it and carries its id and
    # incremental mark without a join back. Star pairs are oriented
    # (least, greatest) by id, like the bucket pairs, so a pair found by
    # both tiers meets in the one (uid_a, uid_b) distinct below.
    sha_members = (
        signatures.select("text_sha", "url")
        .join(ids, "url")
        .select("text_sha", "url", "uid", "is_new")
    )
    sha_roots = (
        sha_members.groupBy("text_sha")
        .agg(
            F.min(F.struct("url", "uid", "is_new")).alias("r"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select("text_sha", F.col("r.uid").alias("root"), F.col("r.is_new").alias("_na"))
    )
    sha_pairs = (
        sha_members.join(sha_roots, "text_sha")
        .filter(F.col("uid") != F.col("root"))
        .filter(F.col("_na") | F.col("is_new"))
        .select(
            F.least("uid", "root").alias("uid_a"),
            F.greatest("uid", "root").alias("uid_b"),
            F.lit(1).cast("tinyint").alias("s"),
        )
    )

    # distinct + sources agg on fixed-width (long, long, tinyint) rows,
    # THEN one decode join back to urls, oriented url_a < url_b there (id
    # order is not url order), and one code->name transform (code order
    # == name order, so sorting before decoding is sorting the names).
    cand_ids = pairs.unionByName(sha_pairs).groupBy("uid_a", "uid_b").agg(
        F.array_sort(F.collect_set("s")).alias("srcs")
    )
    dict_a = ids.select(F.col("uid").alias("uid_a"), F.col("url").alias("u_a"))
    dict_b = ids.select(F.col("uid").alias("uid_b"), F.col("url").alias("u_b"))
    candidates = (
        cand_ids.join(dict_a, "uid_a")
        .join(dict_b, "uid_b")
        .select(
            F.least("u_a", "u_b").alias("url_a"),
            F.greatest("u_a", "u_b").alias("url_b"),
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
    # Substring confirm in line: only winnow-sourced pairs the cheap
    # rules left undecided get their texts (the left joins' condition
    # carries that flag; other pairs get nulls), and one mapInPandas pass
    # scores them and passes the rest through. No second branch over
    # `candidates`: it would evaluate an uncommitted candidates relation
    # (an increment's) twice. No broadcast hints: the text side can be
    # large on pathological corpora — AQE broadcasts at runtime when the
    # measured size allows.
    base = base.withColumn(
        "need", F.col("sources").contains("winnow") & ~cheap
    ).withColumn("cheap_dup", cheap)
    texts = pages.select("url", "text")
    for side in ("a", "b"):
        t = texts.select(
            F.col("url").alias(f"t_url_{side}"), F.col("text").alias(f"text_{side}")
        )
        base = base.join(
            t, (F.col(f"url_{side}") == F.col(f"t_url_{side}")) & F.col("need"), "left"
        ).drop(f"t_url_{side}")
    scored = base.drop("need").mapInPandas(
        udfs.make_substr_fn(cfg), udfs.SUBSTR_SCHEMA
    )
    return scored.select(
        "url_a", "url_b", "jaccard", "hamming", "sha_equal", "substr_ok",
        (F.col("cheap_dup") | F.col("substr_ok")).alias("is_dup"), "sources",
    )


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
