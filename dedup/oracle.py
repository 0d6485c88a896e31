"""Single-process pure-NumPy/pandas reference implementation of the whole
dedup pipeline (SURVEY.md §0.2): the parity anchor standing in for the
unobservable reference implementation (/root/reference/README.md:1 is the
entire reference repo). The distributed Spark pipeline must reproduce this
oracle's signatures bit-for-bit, its bucket/probe keys exactly, and its
verified-pair set + cluster partition (dup-pair recall >= 0.99; in practice
exact equality).

No Spark imports anywhere in this module.
"""

from __future__ import annotations

from dataclasses import dataclass
import itertools

import numpy as np
import pandas as pd

from . import hashing as H
from .config import DedupConfig
from .features import doc_features, minhash_params, u64_to_i64


@dataclass
class OracleResult:
    signatures: pd.DataFrame       # url, minhash, runnerup, simhash, n_shingles, n_tokens, text_sha, fingerprints
    buckets: pd.DataFrame          # band, bucket_key, url, is_probe, probe_rank
    candidates: pd.DataFrame       # url_a, url_b, sources
    dropped_buckets: pd.DataFrame  # generator, key, n
    verified: pd.DataFrame         # url_a, url_b, jaccard, hamming, sha_equal, substr_ok, is_dup, sources
    clusters: pd.DataFrame         # url, cluster_id — EVERY input url (singletons included)


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, x: str, y: str) -> None:
        rx, ry = self.find(x), self.find(y)
        if rx != ry:
            # deterministic: smaller string wins (cluster_id = min url)
            if ry < rx:
                rx, ry = ry, rx
            self.parent[ry] = rx


def _canon_pairs(urls: list[str]) -> list[tuple[str, str]]:
    s = sorted(set(urls))
    return list(itertools.combinations(s, 2))


def run_oracle(pages: pd.DataFrame, cfg: DedupConfig) -> OracleResult:
    a, b = minhash_params(cfg)

    # ---------------- stage 1: signatures --------------------------------
    sig_rows = []
    for rec in pages.itertuples(index=False):
        if cfg.lang_allow is not None and rec.lang not in cfg.lang_allow:
            continue  # P2 allowlist, mirrored by stages.stage12_fused
        f = doc_features(rec.text, cfg, a, b)
        if f is None:
            continue
        sig_rows.append(
            {
                "url": rec.url,
                "minhash": u64_to_i64(f.minhash).tolist(),
                "runnerup": u64_to_i64(f.runnerup).tolist(),
                "simhash": int(u64_to_i64(np.array([f.simhash], dtype=np.uint64))[0]),
                "n_shingles": f.n_shingles,
                "n_tokens": f.n_tokens,
                "text_sha": f.text_sha,
                "fingerprints": u64_to_i64(f.fingerprints).tolist(),
            }
        )
    signatures = pd.DataFrame(
        sig_rows,
        columns=[
            "url", "minhash", "runnerup", "simhash",
            "n_shingles", "n_tokens", "text_sha", "fingerprints",
        ],
    ).sort_values("url", ignore_index=True)

    # ---------------- stage 2: banding + multi-probe ---------------------
    n_sig = len(signatures)
    bucket_rows = []
    if n_sig:
        minh_mat = np.array(signatures["minhash"].tolist(), dtype=np.int64).view(np.uint64)
        run_mat = np.array(signatures["runnerup"].tolist(), dtype=np.int64).view(np.uint64)
        home_keys = H.band_keys_batch(minh_mat, cfg.bands, cfg.rows_per_band).view(np.int64)
        sig_urls = signatures["url"].tolist()
        for i, url in enumerate(sig_urls):
            for band in range(cfg.bands):
                bucket_rows.append((band, int(home_keys[i, band]), url, False, 0))
            for band, rank, key in H.probe_keys_for_doc(
                minh_mat[i], run_mat[i], cfg.bands, cfg.rows_per_band, cfg.probes
            ):
                bucket_rows.append(
                    (band, int(np.uint64(key).view(np.int64)), url, True, rank)
                )
    buckets = pd.DataFrame(
        bucket_rows, columns=["band", "bucket_key", "url", "is_probe", "probe_rank"]
    ).sort_values(["band", "bucket_key", "url", "probe_rank"], ignore_index=True)

    # ---------------- stage 3: candidate generation ----------------------
    dropped: list[tuple[str, str, int]] = []
    pair_sources: dict[tuple[str, str], set[str]] = {}

    def add_pairs(pairs, source: str) -> None:
        for p in pairs:
            pair_sources.setdefault(p, set()).add(source)

    def _multi_groups(df: pd.DataFrame, keys: list[str]):
        """Yield (key, n, subframe) for groups with >= 2 rows. Sort-based
        boundary slicing — no per-group pandas index lookups."""
        if df.empty:
            return
        d = df.sort_values(keys, kind="mergesort", ignore_index=True)
        kf = d[keys]
        change = (kf != kf.shift()).any(axis=1).to_numpy()
        change[0] = True
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], len(d))
        for s, e in zip(starts, ends):
            if e - s >= 2:
                row = kf.iloc[s]
                key_val = tuple(row) if len(keys) > 1 else row.iloc[0]
                yield key_val, int(e - s), d.iloc[s:e]

    # (a) LSH buckets (home + probes); probe-vs-probe pairs are excluded
    #     ([MPLSH]: perturbation applies to the query, the index stores home
    #     buckets — SURVEY.md §2.3 J2)
    ent = buckets.sort_values(["band", "bucket_key", "url", "is_probe"]).drop_duplicates(
        ["band", "bucket_key", "url"], keep="first"  # home row wins over probe
    )
    for (band, key), n, grp in _multi_groups(ent, ["band", "bucket_key"]):
        if n > cfg.max_bucket:
            dropped.append(("lsh", f"{band}:{key}", n))
            continue
        members = sorted(zip(grp["url"], grp["is_probe"]))
        for (ua, pa), (ub, pb) in itertools.combinations(members, 2):
            if pa and pb:
                continue
            if ua != ub:
                add_pairs([(min(ua, ub), max(ua, ub))], "lsh")

    # (b) exact tier: identical text_sha -> star pairs (linear, skew-safe)
    for sha, n, grp in _multi_groups(signatures[["text_sha", "url"]], ["text_sha"]):
        us = sorted(grp["url"])
        add_pairs([(us[0], u) for u in us[1:]], "sha")

    # (c) SimHash combination blocking (Manku et al. 2007): one key per
    #     combo-subset of blocks; hamming <= blocks - combo ⇒ key match.
    sim_u = signatures["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
    widths = cfg.simhash_block_widths
    n_combos = 0
    combo_rows: list[tuple[int, int, str]] = []
    for i, url in enumerate(signatures["url"]):
        for cid, key in H.simhash_combo_keys(
            int(sim_u[i]), widths, cfg.pigeonhole_combo
        ):
            combo_rows.append((cid, key, url))
    tmp = pd.DataFrame(combo_rows, columns=["cid", "v", "url"])
    for (cid, v), n, grp in _multi_groups(tmp, ["cid", "v"]):
        if n > cfg.max_bucket:
            dropped.append(("simhash", f"{cid}:{v}", n))
            continue
        add_pairs(_canon_pairs(list(grp["url"])), "simhash")

    # (d) winnowing fingerprints (substring tier)
    fp_rows = (
        signatures[["url", "fingerprints"]].explode("fingerprints").dropna()
    )
    for fp, n, grp in _multi_groups(fp_rows, ["fingerprints"]):
        urls_ = sorted(set(grp["url"]))
        if len(urls_) < 2:
            continue
        if len(urls_) > cfg.max_bucket:
            dropped.append(("winnow", str(fp), len(urls_)))
            continue
        add_pairs(_canon_pairs(urls_), "winnow")

    candidates = pd.DataFrame(
        [
            (ua, ub, ",".join(sorted(srcs)))
            for (ua, ub), srcs in sorted(pair_sources.items())
        ],
        columns=["url_a", "url_b", "sources"],
    )
    dropped_buckets = pd.DataFrame(dropped, columns=["generator", "key", "n"])

    # ---------------- stage 4: verification ------------------------------
    # Rule (mirrored exactly by the Spark stage): dup edge iff
    #   sha_equal OR signature-Jaccard >= tau OR hamming <= radius OR
    #   (pair has a winnow source AND none of the above AND the normalized
    #    texts share a substring >= min_substr — the expensive check runs
    #    ONLY when the cheap rules have not already decided).
    if len(candidates):
        sig_ix = signatures.set_index("url")
        text_ix = pages.set_index("url")["text"]
        ia = sig_ix.index.get_indexer(candidates["url_a"])
        ib = sig_ix.index.get_indexer(candidates["url_b"])
        mh = np.array(sig_ix["minhash"].tolist(), dtype=np.int64)
        jac = (mh[ia] == mh[ib]).mean(axis=1)
        sim = sig_ix["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
        xor = sim[ia] ^ sim[ib]
        ham = np.zeros(len(candidates), dtype=np.int64)
        x = xor.copy()
        while x.any():
            ham += (x & np.uint64(1)).astype(np.int64)
            x = x >> np.uint64(1)
        sha = sig_ix["text_sha"].to_numpy()
        sha_eq = sha[ia] == sha[ib]
        cheap_dup = sha_eq | (jac >= cfg.jaccard_tau) | (ham <= cfg.hamming_radius)
        has_winnow = candidates["sources"].str.contains("winnow").to_numpy()
        substr_ok = np.zeros(len(candidates), dtype=bool)
        for i in np.nonzero(has_winnow & ~cheap_dup)[0]:
            substr_ok[i] = H.has_common_substring(
                H.normalize(text_ix.loc[candidates["url_a"].iloc[i]]),
                H.normalize(text_ix.loc[candidates["url_b"].iloc[i]]),
                cfg.min_substr,
            )
        verified = pd.DataFrame(
            {
                "url_a": candidates["url_a"],
                "url_b": candidates["url_b"],
                "jaccard": jac.astype(float),
                "hamming": ham,
                "sha_equal": sha_eq,
                "substr_ok": substr_ok,
                "is_dup": cheap_dup | substr_ok,
                "sources": candidates["sources"],
            }
        )
    else:
        verified = pd.DataFrame(
            columns=[
                "url_a", "url_b", "jaccard", "hamming",
                "sha_equal", "substr_ok", "is_dup", "sources",
            ]
        )

    # ---------------- stage 5: clustering (union-find) -------------------
    uf = UnionFind()
    for url in pages["url"]:
        uf.find(url)
    if len(verified):
        for rec in verified[verified["is_dup"]].itertuples(index=False):
            uf.union(rec.url_a, rec.url_b)
    clusters = pd.DataFrame(
        sorted((u, uf.find(u)) for u in pages["url"]),
        columns=["url", "cluster_id"],
    )
    return OracleResult(signatures, buckets, candidates, dropped_buckets, verified, clusters)
