"""Driver-contract rehearsal (SURVEY.md §5.5): run every queries() entry at
sf0.01 and compare row count + column names + order-insensitive values
against its oracle_sql() DuckDB twin — the same check the driver applies.
Non-SQL entries get the weaker rows>=0 + stable-schema check."""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    out = df.copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif str(out[c].dtype).startswith("datetime"):
            out[c] = out[c].astype(str)
        elif out[c].dtype.kind == "f":
            out[c] = out[c].map(lambda v: round(v, 6) if not math.isnan(v) else None)
        elif out[c].dtype.kind in "iu":
            out[c] = out[c].astype("int64")
    return out.sort_values(list(out.columns), ignore_index=True)


SQL_KEYS = sorted(entry_mod.oracle_sql().keys())
ALL_KEYS = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", SQL_KEYS)
def test_sql_twinned_query(spark, ddb, name):
    q = entry_mod.queries()[name]
    got = _normalize(q(spark, SF).toPandas())
    want = _normalize(ddb.execute(entry_mod.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, atol=1e-6)


@pytest.mark.parametrize(
    "name", [k for k in ALL_KEYS if k not in SQL_KEYS] or ["<none>"]
)
def test_rows_only_query(spark, name):
    """Entries without a SQL twin (genuinely non-SQL-expressible ops) get
    the driver's weaker rows>=0 + stable-schema check."""
    if name == "<none>":
        pytest.skip("every queries() entry currently has a SQL twin")
    df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    assert len(df.schema.fields) >= 2


def test_suffix_sampled_finds_planted_spans(spark):
    """The sampled (rate=4) suffix pass must still report every planted
    >=50-char duplicate span: content-hash anchor selection keeps the
    SAME anchors in both docs sharing a span, so a span with ~10 shared
    word-start anchors deterministically survives 1/4 sampling here."""
    span1 = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa"
    )
    span2 = (
        "quebec romeo sierra tango uniform victor whiskey xray yankee "
        "zulu one two three four five six"
    )
    docs = [
        (0, "zzz aaa " + span1 + " bbb"),
        (1, span1 + " ccc ddd eee"),
        (2, "fff " + span2),
        (3, span2 + " ggg"),
        (4, "unrelated words only nothing shared here at all really truly"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in entry_mod._suffix_dup_spans_over(df, rate=4).collect()
    }
    assert (0, 1) in got and (2, 3) in got
    assert not any(4 in p for p in got)
    # the sampled pass reports a SUBSET of the exact pass's anchors
    exact = {
        (r["doc_a"], r["doc_b"], r["n_shared_anchors"])
        for r in entry_mod._suffix_dup_spans_over(df, rate=1).collect()
    }
    exact_pairs = {(a, b): n for a, b, n in exact}
    sampled = {
        (r["doc_a"], r["doc_b"]): r["n_shared_anchors"]
        for r in entry_mod._suffix_dup_spans_over(df, rate=4).collect()
    }
    for pair, n in sampled.items():
        assert pair in exact_pairs and n <= exact_pairs[pair]


def test_bpe_merge_step_merges_planted_pair(spark):
    """One BPE merge round on a hand-built corpus: 'th' is the weighted
    most-frequent adjacent pair and every vocab word containing it gets
    its symbols joined; merges apply left-to-right non-overlapping
    ('aaaa' stays unmerged here, but pins the pair-per-position count)."""
    df = spark.createDataFrame([("the the the thin aaaa",)], "text string")
    rows = {r["word"]: r.asDict() for r in entry_mod._bpe_merge_over(df).collect()}
    assert set(rows) == {"the", "thin", "aaaa"}
    assert all(r["merged_pair"] == "th" for r in rows.values())
    assert rows["the"]["pair_occ"] == 4  # 3x 'the' + 1x 'thin'
    assert rows["the"]["symbols"] == "th e"
    assert rows["thin"]["symbols"] == "th i n"
    assert rows["aaaa"]["symbols"] == "a a a a"
    assert rows["the"]["rank"] == 1 and rows["the"]["n"] == 3


def test_bpe_merge_is_left_to_right_nonoverlapping(spark):
    """The greedy merge semantics BPE trainers use: 'a a a a' with winning
    pair 'aa' becomes 'aa aa', never 'aa a a' or an overlapped form."""
    df = spark.createDataFrame([("aaaa aaaa ab",)], "text string")
    rows = {r["word"]: r.asDict() for r in entry_mod._bpe_merge_over(df).collect()}
    assert rows["aaaa"]["merged_pair"] == "aa"  # 3 positions x 2 words = 6
    assert rows["aaaa"]["pair_occ"] == 6
    assert rows["aaaa"]["symbols"] == "aa aa"


def test_bpe_train_learns_planted_merges(spark):
    """Multi-round trainer on a hand-computed corpus: with 'low' x5 and
    'lowest' x2, the pair (l,o) dominates round 1 (7), (lo,w) round 2
    (7), then (low,e) vs... 'lowest' contributes (low,e),(e,s),(s,t) x2
    and nothing else remains above 2 — ties resolve lexicographically,
    so round 3 merges (e,s), round 4 (es,t), round 5 (low,est)."""
    text = " ".join(["low"] * 5 + ["lowest"] * 2)
    df = spark.createDataFrame([(text,)], "text string")
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["n_occ"])
        for r in entry_mod._bpe_train_over(spark, df, 5).collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 7),
        (2, "lo", "w", "low", 7),
        (3, "e", "s", "es", 2),
        (4, "es", "t", "est", 2),
        (5, "low", "est", "lowest", 2),
    ]


def test_bpe_train_token_aware_merge(spark):
    """The merge fold compares whole symbols, never substrings: after
    (a,b)->ab, a later (b,c) merge must NOT fire inside 'ab c' the way a
    string replace on the spaced form would. Corpus: 'abc' x3, 'bc' x2 —
    round 1 merges (b,c) 5x? no: pairs are (a,b)x3,(b,c)x5 -> (b,c) wins;
    round 2 (a,bc)x3."""
    text = " ".join(["abc"] * 3 + ["bc"] * 2)
    df = spark.createDataFrame([(text,)], "text string")
    got = [
        (r["step"], r["left"], r["right"], r["n_occ"])
        for r in entry_mod._bpe_train_over(spark, df, 2).collect()
    ]
    assert got == [(1, "b", "c", 5), (2, "a", "bc", 3)]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(c.name for c in df.schema.fields) == {"url", "cluster_id"}


def test_bloom_decontam_supersets_exact(spark):
    """Bloom membership can false-positive but never false-negative: every
    doc ngram_decontam flags must appear in bloom_decontam with at least
    as many hit grams (a shared gram sets its own two bits, so it always
    probes positive)."""
    sf = "/root/testdata/sf0.001"
    exact = {
        r["doc_id"]: r["shared_grams"]
        for r in entry_mod._ngram_decontam(spark, sf).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in entry_mod._bloom_decontam(spark, sf).collect()
    }
    assert exact, "fixture must plant at least one contaminated doc"
    for doc_id, n in exact.items():
        assert bloom.get(doc_id, 0) >= n, doc_id


def test_simhash_near_dup_matches_engine_sim_tier(spark):
    """The standalone SimHash tier (V9) must agree with the engine: its
    pairs are exactly the verified pairs that carry a 'simhash' source
    (same combo blocking, same max_bucket cap) with Hamming distance
    within the configured radius."""
    from dedup.config import DEFAULT

    sf = "/root/testdata/sf0.001"
    got = {
        (r.url_a, r.url_b, int(r.hamming))
        for r in entry_mod._simhash_near_dup(spark, sf).collect()
    }
    want = {
        (r.url_a, r.url_b, int(r.hamming))
        for r in entry_mod._dedup_stage("verified_pairs")(spark, sf).collect()
        if "simhash" in r.sources.split(",")
        and r.hamming <= DEFAULT.hamming_radius
    }
    assert got, "fixture must contain at least one simhash near-dup pair"
    assert got == want


@pytest.mark.parametrize("n_shards", [16, 64])
def test_pack_chunks_layout(spark, n_shards):
    """Packing invariants at TWO shard counts (VERDICT r4 wrong #4: the
    count was a literal 16): every doc appears once; within each shard
    the token offsets are exactly the prefix sums in doc_id order
    (contiguous concatenation — no gaps, no overlaps); chunk ids are the
    L=2048 cuts of that concatenation."""
    sf = "/root/testdata/sf0.001"
    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    rows = entry_mod._pack_chunks_over(docs_df, n_shards).collect()
    assert {r["shard"] for r in rows} <= set(range(n_shards))
    n_docs = docs_df.count()
    assert len(rows) == n_docs
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in docs:
            assert r["start_tok"] == offset, (shard, r["doc_id"])
            assert r["first_chunk"] == offset // 2048
            assert r["last_chunk"] == (offset + r["n_tokens"] - 1) // 2048
            assert r["first_chunk"] <= r["last_chunk"]
            offset += r["n_tokens"]


def test_token_budget_mix_is_maximal_prefix(spark):
    """The admitted docs of each source are exactly the maximal prefix of
    the (hash, doc_id) order that started under the 1280-token budget —
    recomputed independently from the raw table."""
    sf = "/root/testdata/sf0.001"
    kept = {
        (r["source"], r["doc_id"]): r["toks_before"]
        for r in entry_mod._token_budget_mix(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    by_source = {}
    for r in docs:
        h = ((r["doc_id"] % 1048573) * 2654435761) % 1048576
        n_tok = len(r["text"].split(" "))
        by_source.setdefault(r["source"], []).append((h, r["doc_id"], n_tok))
    expect = {}
    truncated_sources = 0
    for source, lst in by_source.items():
        lst.sort()
        before = 0
        for h, doc_id, n_tok in lst:
            if before < 1280:
                expect[(source, doc_id)] = before
            else:
                truncated_sources += 1
                break
            before += n_tok
    assert kept == expect
    assert truncated_sources > 0, "fixture must exercise the budget cutoff"


def test_pack_shard_count_derivation(spark):
    """_pack_shard_count = ceil(total corpus tokens / target tokens per
    shard), recomputed independently."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    total = sum(len(r["text"].split(" ")) for r in docs)
    for target in (500, 5000, 10**12):
        got = entry_mod._pack_shard_count(
            spark.read.parquet(f"{sf}/documents.parquet"), target
        )
        assert got == max(1, -(-total // target)), target


def _mega_source_df(spark, n_docs=20000, n_parts=8):
    """A planted mega-domain: one source holding n_docs docs of 5 tokens
    each — the skew case the mixture sampler's pre-filter exists for —
    plus a small fully-kept source."""
    pd_docs = pd.DataFrame(
        {
            "doc_id": list(range(n_docs + 20)),
            "source": ["mega.example"] * n_docs + ["tiny.example"] * 20,
            "text": ["alpha beta gamma delta epsilon"] * (n_docs + 20),
        }
    )
    return spark.createDataFrame(pd_docs).repartition(n_parts)


def test_mix_prefilter_bounds_window_input(spark):
    """VERDICT r4 wrong #1 (the round's one perf-weak item): rows entering
    the source-keyed window shuffle must be BOUNDED for a mega-source —
    each input partition may keep at most ceil(budget / min_tokens)
    admission rows per source, so the 20k-doc planted domain arrives at
    the window as <= 8 partitions * 256 rows, not 20k."""
    n_docs, n_parts, budget = 20000, 8, 1280
    d = _mega_source_df(spark, n_docs, n_parts)
    pre = entry_mod._mix_prefilter(entry_mod._mix_base(d), budget)
    got = pre.count()
    per_part_cap = -(-budget // 5)  # every planted doc is 5 tokens
    assert got <= n_parts * per_part_cap + 20, got  # 2068 max, vs 20020 naive
    assert got < n_docs // 4  # the overflow died map-side


def test_mix_prefilter_is_answer_preserving(spark):
    """A/B identity: the pre-filtered plan returns bit-identical rows
    (including toks_before values) to the naive single-window plan, on
    the skewed planted corpus AND on the fixture corpus."""
    budget = 1280
    for d in (
        _mega_source_df(spark),
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
    ):
        fast = sorted(
            map(tuple, entry_mod._token_budget_mix_over(d, budget, True).collect())
        )
        naive = sorted(
            map(tuple, entry_mod._token_budget_mix_over(d, budget, False).collect())
        )
        assert fast == naive
        assert len(fast) > 0


def test_bpe_encode_reproduces_hand_tokenization(spark):
    """Encoding with the trained merges must reproduce a hand-computed
    tokenization: on 'low'x5 + 'lowest'x2 + 'lower'x1 the 5 learned
    merges are lo, low, lowe(s? no: see bpe_train test)... recomputed:
    pairs r1 (l,o)=8 -> lo; r2 (lo,w)=8 -> low; r3 (low,e)=3 -> lowe;
    r4 (lowe,s)=2 (lex before (s,t)) -> lowes; r5 (lowes,t)=2 -> lowest.
    So: low -> [low], lowest -> [lowest], lower -> [lowe, r]."""
    text = " ".join(["low"] * 5 + ["lowest"] * 2 + ["lower"])
    df = spark.createDataFrame([(text,)], "text string")
    got = {
        r["word"]: (r["tokens"], r["n_syms"])
        for r in entry_mod._bpe_encode_over(spark, df, 5).collect()
    }
    assert got == {
        "low": ("low", 1),
        "lowest": ("lowest", 1),
        "lower": ("lowe r", 2),
    }


def test_decontam_bloom_exact_equals_exact(spark):
    """The composed Bloom -> exact pipeline must return EXACTLY the
    ngram_decontam answer (Bloom has no false negatives, so the exact
    re-check on the flagged subset loses nothing)."""
    sf = "/root/testdata/sf0.001"
    exact = sorted(map(tuple, entry_mod._ngram_decontam(spark, sf).collect()))
    composed = sorted(
        map(tuple, entry_mod._decontam_bloom_exact(spark, sf).collect())
    )
    assert composed == exact
    assert len(exact) > 0


def test_pack_chunks_twin_at_second_shard_count(spark, ddb):
    """The DuckDB twin itself, evaluated at a SECOND shard count (64):
    proves the parameterization didn't bake 16 into the semantics — the
    same SQL with the shard modulus swapped matches the Spark plan
    value-for-value."""
    sql64 = entry_mod.oracle_sql()["pack_chunks"].replace("% 16", "% 64")
    want = _normalize(ddb.execute(sql64).fetchdf())
    got = _normalize(
        entry_mod._pack_chunks_over(
            spark.read.parquet(f"{SF}/documents.parquet"), 64
        ).toPandas()
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_cms_heavy_grams_supersets_boilerplate(spark):
    """The count-min estimate can only overcount (slot collisions add,
    never subtract), so the CMS-flagged gram set must superset the exact
    boilerplate set and every exact heavy gram's estimate must be >= its
    true distinct-doc frequency."""
    sf = "/root/testdata/sf0.001"
    exact = {
        r["gram"]: r["doc_freq"]
        for r in entry_mod._boilerplate_ngrams(spark, sf).collect()
    }
    est = {
        r["gram"]: r["est_doc_freq"]
        for r in entry_mod._cms_heavy_grams(spark, sf).collect()
    }
    assert exact, "fixture must plant at least one boilerplate gram"
    for gram, freq in exact.items():
        assert est.get(gram, 0) >= freq, gram


def test_classifier_score_matches_hand_computation(spark):
    """Recompute three docs' class scores in pure Python (hashlib md5 per
    token, same 4-nibble weight derivation) and pin the Spark output to
    them — an engine-independent check of the inference arithmetic."""
    import hashlib

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .limit(3)
        .collect()
    }

    def weight(word: str, salt: str) -> int:
        return int(hashlib.md5(f"{word}|{salt}".encode()).hexdigest()[:4], 16) - 32768

    got = {
        r["doc_id"]: r
        for r in entry_mod._classifier_quality_score(spark, sf).collect()
        if r["doc_id"] in docs
    }
    for doc_id, text in docs.items():
        toks = text.split(" ")
        hq = sum(weight(w, "q0") for w in toks)
        lq = sum(weight(w, "q1") for w in toks)
        row = got[doc_id]
        assert row["score_hq"] == hq and row["score_lq"] == lq, doc_id
        assert row["n_tokens"] == len(toks)
        assert row["label"] == ("hq" if hq >= lq else "lq")


def test_ngram_novelty_matches_recomputation(spark):
    """Independent single-process recomputation of first-introducer
    novelty over the whole sf0.001 fixture: gram -> min doc_id, then
    per-doc novel fraction — must match the distributed answer exactly."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    first: dict[str, int] = {}
    per_doc: dict[int, set] = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        w = r["text"].split(" ")
        grams = {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}
        if not grams:
            continue
        per_doc[r["doc_id"]] = grams
        for g in grams:
            first.setdefault(g, r["doc_id"])
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_pct"])
        for r in entry_mod._ngram_novelty(spark, sf).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, grams in per_doc.items():
        novel = sum(1 for g in grams if first[g] == doc_id)
        assert got[doc_id] == (
            len(grams),
            novel,
            (100 * novel) // len(grams),
        ), doc_id


def test_cross_dup_domains_accounts_every_dup_pair(spark):
    """The attribution matrix must partition the engine's verified dup
    pairs: n_pairs sums to the is_dup pair count, n_exact to the
    sha-equal subset, and every host value is a substring of some url."""
    sf = "/root/testdata/sf0.001"
    dups = [
        r
        for r in entry_mod._dedup_stage("verified_pairs")(spark, sf).collect()
        if r["is_dup"]
    ]
    mat = entry_mod._cross_dup_domains(spark, sf).collect()
    assert sum(r["n_pairs"] for r in mat) == len(dups)
    assert sum(r["n_exact"] for r in mat) == sum(1 for r in dups if r["sha_equal"])
    hosts = {u.split("://")[1].split("/")[0] for r in dups for u in (r["url_a"], r["url_b"])}
    for r in mat:
        assert r["host_a"] in hosts and r["host_b"] in hosts
        assert r["host_a"] <= r["host_b"]


def test_word_grams_distinct_equals_shuffled_distinct(spark, ddb):
    """The map-side array_distinct dedup must equal the shuffled
    `SELECT DISTINCT doc_id, gram` over the twins' shared gram CTE
    exactly — (doc, gram) duplicates can only arise within one
    document's single input row."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    a = list(map(tuple, entry_mod._word_grams_distinct(d).collect()))
    b = ddb.execute(
        f"WITH {entry_mod._grams_sql(8)} SELECT DISTINCT doc_id, gram FROM grams"
    ).fetchall()
    assert len(a) == len(set(a)) and set(a) == set(b) and len(a) > 0


def test_bigram_lm_score_matches_recomputation(spark):
    """Independent single-process recomputation of the conditional-LM
    surprise over the full sf0.001 fixture — global bigram and prefix
    counts, integer floor-div scoring — must match exactly."""
    from collections import Counter

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    c2: Counter = Counter()
    c1: Counter = Counter()
    per_doc: dict[int, list] = {}
    for r in rows:
        w = r["text"].split(" ")
        if len(w) < 2:
            continue
        bgs = [(w[i], w[i + 1]) for i in range(len(w) - 1)]
        per_doc[r["doc_id"]] = bgs
        for a, b in bgs:
            c2[(a, b)] += 1
            c1[a] += 1
    got = {
        r["doc_id"]: (r["n_bigrams"], r["surprise_sum"], r["surprise_mean"])
        for r in entry_mod._bigram_lm_score(spark, sf).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, bgs in per_doc.items():
        s = sum(c1[a] // c2[(a, b)] for a, b in bgs)
        assert got[doc_id] == (len(bgs), s, s // len(bgs)), doc_id


def test_cluster_profile_matches_recomputation(spark):
    """The per-cluster rollup must partition the corpus (n_members sums
    to the page count) and agree with a direct recomputation from the
    engine's cluster assignment plus the pages metadata."""
    from collections import defaultdict

    sf = "/root/testdata/sf0.001"
    from dedup.config import DEFAULT
    from dedup.contract_oracle import ensure_cache

    cache = ensure_cache(sf, DEFAULT)
    pages = {
        r["url"]: r
        for r in spark.read.parquet(f"{cache}/pages.parquet")
        .select("url", "lang", "warc_ts")
        .collect()
    }
    assign = {
        r["url"]: r["cluster_id"]
        for r in entry_mod._dedup_stage("clusters")(spark, sf).collect()
    }
    want = defaultdict(lambda: {"m": 0, "hosts": set(), "langs": set(), "ts": []})
    for url, cid in assign.items():
        p = pages[url]
        w = want[cid]
        w["m"] += 1
        w["hosts"].add(url.split("://")[1].split("/")[0])
        w["langs"].add(p["lang"])
        w["ts"].append(p["warc_ts"])
    got = {r["cluster_id"]: r for r in entry_mod._cluster_profile(spark, sf).collect()}
    assert set(got) == set(want)
    assert sum(r["n_members"] for r in got.values()) == len(pages)
    for cid, w in want.items():
        g = got[cid]
        assert (g["n_members"], g["n_hosts"], g["n_langs"]) == (
            w["m"], len(w["hosts"]), len(w["langs"])), cid
        assert g["first_ts"] == min(w["ts"]) and g["last_ts"] == max(w["ts"]), cid


def test_intradoc_dedup_removes_planted_repetition(spark):
    """A planted self-repeating doc (the same 8-word block looped 4x plus
    a distinct tail) must collapse to first occurrence + tail; a doc with
    all-distinct chunks must pass through byte-identical."""
    block = "alpha beta gamma delta epsilon zeta eta theta"
    tail = "unique closing words here now then done end"
    rep = " ".join([block] * 4 + [tail])
    clean = " ".join(f"w{i}" for i in range(24))
    d = spark.createDataFrame(
        [(1, rep), (2, clean)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in entry_mod._intradoc_dedup_over(d).collect()}
    assert got[1]["clean_text"] == f"{block} {tail}"
    assert got[1]["n_chunks"] == 5 and got[1]["n_removed"] == 3
    assert got[2]["clean_text"] == clean and got[2]["n_removed"] == 0


def test_intradoc_dedup_preserves_nonrepeated_text(spark):
    """Over the real fixture: reassembling WITHOUT dedup must reproduce
    the input text byte-for-byte (chunking is lossless), and every
    clean_text is the first-occurrence subsequence of its chunks."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    got = {
        r["doc_id"]: r
        for r in entry_mod._intradoc_dedup(spark, sf).collect()
    }
    for r in rows:
        w = r["text"].split(" ")
        chunks = [
            " ".join(w[i : i + 8]) for i in range(0, len(w), 8)
        ]
        assert " ".join(chunks) == r["text"], r["doc_id"]  # lossless chunking
        seen, kept = set(), []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        g = got[r["doc_id"]]
        assert g["clean_text"] == " ".join(kept), r["doc_id"]
        assert g["n_chunks"] == len(chunks)
        assert g["n_removed"] == len(chunks) - len(kept)


def test_dsir_importance_matches_recomputation(spark):
    """Independent recomputation of the integer likelihood-ratio weights
    over the full sf0.001 fixture (target = doc_id % 7 split)."""
    from collections import Counter

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    tgt, cor = Counter(), Counter()
    per_doc = {}
    for r in rows:
        w = r["text"].split(" ")
        if len(w) < 2:
            continue
        bgs = [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
        if r["doc_id"] % 7 == 0:
            tgt.update(bgs)
        else:
            cor.update(bgs)
            per_doc[r["doc_id"]] = bgs
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_sum"], r["weight_mean"])
        for r in entry_mod._dsir_importance(spark, sf).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, bgs in per_doc.items():
        s = sum(((1 + tgt[b]) * 1024) // (1 + cor[b]) for b in bgs)
        assert got[doc_id] == (len(bgs), s, s // len(bgs)), doc_id


def test_round5_operator_plan_shapes(spark):
    """Pin the round-5 operators' scale claims to their physical plans:
    intradoc_dedup is map-only (no exchange), classifier inference has
    exactly ONE exchange (the doc rollup), and cms_heavy_grams has no
    gram-keyed exchange BEFORE its threshold filter (the two sketch
    exchanges are slot-keyed, the post-filter distinct is output-sized)."""
    sf = "/root/testdata/sf0.001"

    plan = (
        entry_mod._intradoc_dedup(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan

    plan = (
        entry_mod._classifier_quality_score(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1

    plan = (
        entry_mod._cms_heavy_grams(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exchanges: two slot-keyed sketch builds (+ their broadcasts) and
    # one post-filter distinct keyed by (gram, est) — nothing keyed by
    # gram upstream of the least()>=3 condition
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    gram_keyed = [e for e in hash_exchanges if "gram" in e]
    assert len(gram_keyed) == 1  # only the output distinct
    assert "est_doc_freq" in gram_keyed[0]


def test_url_blocklist_filter_blocks_and_keeps(spark):
    """Independent hashlib recomputation of the host blocklist over the
    cached pages corpus: blocked hosts must be entirely absent, kept
    hosts' page counts exact, and both partitions non-empty (the rule is
    only a meaningful filter if it actually splits the fixture). Also
    pins the plan shape: the anti-join must broadcast (no shuffled join
    for the filter)."""
    import hashlib
    from collections import Counter

    import pandas as pd
    from dedup.config import DEFAULT
    from dedup.contract_oracle import ensure_cache

    sf = "/root/testdata/sf0.001"
    cache = ensure_cache(sf, DEFAULT)
    urls = pd.read_parquet(f"{cache}/pages.parquet", columns=["url"])["url"]
    counts = Counter(
        u.split("#", 1)[0].split("?", 1)[0].split("://", 1)[1].split("/", 1)[0]
        for u in urls
    )
    blocked = {
        h for h in counts if hashlib.md5(h.encode()).hexdigest()[0] in "01"
    }
    kept = {h: n for h, n in counts.items() if h not in blocked}
    assert blocked and kept  # the rule splits the fixture both ways
    df = entry_mod._url_blocklist_filter(spark, sf)
    got = {r["host"]: r["n_pages"] for r in df.collect()}
    assert got == kept
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_chunk_keep_first_dedup_matches_recomputation(spark):
    """Single-process recomputation of global keep-first chunk dedup over
    the full sf0.001 fixture: every duplicated 8-word chunk survives only
    at (min doc_id, min chunk_no); reassembly preserves order."""
    sf = "/root/testdata/sf0.001"
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    first = {}
    per_doc = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        w = r["text"].split(" ")
        chunks = [" ".join(w[i : i + 8]) for i in range(0, len(w), 8)]
        per_doc[r["doc_id"]] = chunks
        for pos, c in enumerate(chunks):
            first.setdefault(c, (r["doc_id"], pos))
    got = {
        r["doc_id"]: r
        for r in entry_mod._chunk_keep_first_dedup(spark, sf).collect()
    }
    n_dupes_somewhere = 0
    for doc_id, chunks in per_doc.items():
        kept = [
            c
            for pos, c in enumerate(chunks)
            if first[c] == (doc_id, pos)
        ]
        g = got[doc_id]
        assert g["n_chunks"] == len(chunks), doc_id
        assert g["n_removed"] == len(chunks) - len(kept), doc_id
        assert g["clean_text"] == " ".join(kept), doc_id
        n_dupes_somewhere += g["n_removed"]
    assert n_dupes_somewhere > 0  # the fixture actually exercises removal


def test_decontam_overlap_frac_matches_recomputation(spark):
    """Set-based recomputation of the graded contamination score: eval
    grams from the doc_id%7 split, per-doc distinct-gram overlap as an
    integer percentage; zero-overlap docs must be PRESENT with pct 0
    (the graded query scores everyone, unlike the binary flag)."""
    sf = "/root/testdata/sf0.001"
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    grams = {}
    for r in rows:
        w = r["text"].split(" ")
        if len(w) >= 8:
            grams[r["doc_id"]] = {
                " ".join(w[i : i + 8]) for i in range(len(w) - 7)
            }
    eval_set = set().union(
        *(g for d, g in grams.items() if d % 7 == 0)
    )
    got = {
        r["doc_id"]: r
        for r in entry_mod._decontam_overlap_frac(spark, sf).collect()
    }
    train = {d: g for d, g in grams.items() if d % 7 != 0}
    assert set(got) == set(train)
    zero_seen = False
    for d, g in train.items():
        shared = len(g & eval_set)
        assert got[d]["n_grams"] == len(g), d
        assert got[d]["shared_grams"] == shared, d
        assert got[d]["overlap_pct"] == (100 * shared) // len(g), d
        zero_seen = zero_seen or shared == 0
    assert zero_seen  # left join keeps uncontaminated docs on the board


def test_lexical_diversity_matches_recomputation(spark):
    """Counter-based recomputation of TTR / hapax counts over the full
    sf0.001 fixture."""
    from collections import Counter

    sf = "/root/testdata/sf0.001"
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in entry_mod._lexical_diversity(spark, sf).collect()
    }
    for r in rows:
        c = Counter(r["text"].split(" "))
        g = got[r["doc_id"]]
        assert g["n_words"] == sum(c.values())
        assert g["n_types"] == len(c)
        assert g["n_hapax"] == sum(1 for v in c.values() if v == 1)
        assert g["ttr_pct"] == (100 * len(c)) // sum(c.values())


def test_asof_join_matches_recomputation(spark):
    """Pure-Python recomputation of the as-of join over the full sf0.001
    events fixture: for each click, the matched error must be the max
    error ts <= click ts for that user; clicks with no prior error are
    absent (inner as-of)."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    errors = {}
    for r in rows:
        if r["event_type"] == "error":
            errors.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    for v in errors.values():
        v.sort()
    want = {}
    for r in rows:
        if r["event_type"] != "click":
            continue
        cands = [e for e in errors.get(r["user_id"], []) if e[0] <= r["ts"]]
        if cands:
            ets, eid = max(cands)
            td = r["ts"] - ets
            gap = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
            want[r["event_id"]] = (eid, gap)
    got = {
        r["event_id"]: (r["err_event_id"], r["gap_us"])
        for r in entry_mod._asof_join_events(spark, sf).collect()
    }
    assert got == want
    assert want  # the fixture actually exercises matches


def test_asof_join_tie_rule_is_inclusive(spark):
    """An error at the EXACT click timestamp must match (ASOF >= — the
    is_left secondary sort key), and a later error must not."""
    from datetime import datetime

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 5, 0)
    ev = spark.createDataFrame(
        [
            (1, 7, t0, "error"),   # exactly at the click ts
            (2, 7, t0, "click"),   # must match event 1, gap 0
            (3, 7, t1, "error"),   # later: must NOT rewrite history
            (4, 7, t1, "click"),   # must match event 3
            (5, 8, t0, "click"),   # user 8 has no error: absent
        ],
        ["event_id", "user_id", "ts", "event_type"],
    )
    got = {
        r["event_id"]: (r["err_event_id"], r["gap_us"])
        for r in entry_mod._asof_join_over(ev).collect()
    }
    assert got == {2: (1, 0), 4: (3, 0)}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_events_ts_and_event_id_unique(sf):
    """asof_join_events and sessionize_events are deterministic only
    because `events.ts` is unique (their min_by/max_by and window ties
    never arise) — pin that fixture invariant, and event_id's, at every
    scale factor."""
    path = os.path.join(os.path.dirname(SF), sf, "events.parquet")
    ev = pd.read_parquet(path, columns=["ts", "event_id"])
    assert len(ev) > 0
    assert ev["ts"].is_unique
    assert ev["event_id"].is_unique


def test_sessionize_events_matches_recomputation(spark):
    """Pure-Python recomputation of 30-minute-gap sessionization over the
    full sf0.001 events fixture."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "ts"
    ).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    want = {}
    multi_session_seen = False
    for uid, evs in by_user.items():
        evs.sort()
        sess_no, start = 0, None
        sessions = []
        for ts, eid in evs:
            gap_us = (
                None
                if start is None
                else ((ts - prev).days * 86_400 + (ts - prev).seconds)
                * 1_000_000
                + (ts - prev).microseconds
            )
            if start is None or gap_us > 30 * 60 * 1_000_000:
                sess_no += 1
                sessions.append([])
                start = ts
            sessions[-1].append((ts, eid))
            prev = ts
        multi_session_seen = multi_session_seen or len(sessions) > 1
        for i, s in enumerate(sessions, 1):
            td = s[-1][0] - s[0][0]
            dur = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
            want[(uid, i)] = (len(s), s[0][1], s[-1][1], dur)
    got = {
        (r["user_id"], r["session_no"]): (
            r["n_events"], r["first_event_id"], r["last_event_id"], r["duration_us"]
        )
        for r in entry_mod._sessionize_events(spark, sf).collect()
    }
    assert got == want
    assert multi_session_seen  # gaps actually split somewhere


def test_length_deciles_matches_recomputation(spark):
    """Pure-Python ntile(10) recomputation per source over sf0.001: the
    first (n mod 10) buckets get ceil(n/10) rows, the rest floor(n/10),
    over the deterministic (n_chars, doc_id) order."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append((r["n_chars"], r["doc_id"]))
    want = {}
    for src, docs in by_source.items():
        docs.sort()
        n = len(docs)
        q, rem = divmod(n, 10)
        i = 0
        for d in range(1, 11):
            size = q + (1 if d <= rem else 0)
            if size == 0:
                continue
            bucket = docs[i : i + size]
            i += size
            want[(src, d)] = (
                len(bucket),
                min(c for c, _ in bucket),
                max(c for c, _ in bucket),
            )
    got = {
        (r["source"], r["decile"]): (r["n_docs"], r["min_chars"], r["max_chars"])
        for r in entry_mod._length_deciles(spark, sf).collect()
    }
    assert got == want


def test_source_lang_rollup_accounts(spark):
    """The three ROLLUP levels must be mutually consistent: the grand
    total equals the corpus, each source subtotal equals the sum of its
    (source, lang) rows, and GROUPING flags tag exactly the subtotal
    rows."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "source", "lang", "n_chars"
    ).collect()
    got = entry_mod._source_lang_rollup(spark, sf).collect()
    n_total = len(rows)
    chars_total = sum(r["n_chars"] for r in rows)
    grand = [r for r in got if r["g_source"] == 1 and r["g_lang"] == 1]
    assert len(grand) == 1
    assert (grand[0]["source"], grand[0]["lang"]) == ("ALL", "ALL")
    assert grand[0]["n_docs"] == n_total and grand[0]["total_chars"] == chars_total
    leaves = [r for r in got if r["g_source"] == 0 and r["g_lang"] == 0]
    subtotals = {r["source"]: r for r in got if r["g_source"] == 0 and r["g_lang"] == 1}
    assert not [r for r in got if r["g_source"] == 1 and r["g_lang"] == 0]
    for src, sub in subtotals.items():
        assert sub["lang"] == "ALL"
        mine = [r for r in leaves if r["source"] == src]
        assert sub["n_docs"] == sum(r["n_docs"] for r in mine)
        assert sub["total_chars"] == sum(r["total_chars"] for r in mine)
    assert sum(r["n_docs"] for r in leaves) == n_total


def test_quality_percentile_matches_recomputation(spark):
    """Pure-Python permille recomputation per language cohort (rank over
    the unique (n_words, doc_id) key)."""
    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(
            (len(r["text"].split(" ")), r["doc_id"])
        )
    want = {}
    for lang, docs in by_lang.items():
        docs.sort()
        n = len(docs)
        for i, (nw, did) in enumerate(docs):
            pm = (1000 * i) // (n - 1) if n > 1 else 0
            want[did] = (lang, nw, pm)
    got = {
        r["doc_id"]: (r["lang"], r["n_words"], r["permille"])
        for r in entry_mod._quality_percentile(spark, sf).collect()
    }
    assert got == want
