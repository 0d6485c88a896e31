"""Per-document feature extraction — THE kernel shared verbatim by the
NumPy oracle (dedup/oracle.py) and the Spark pandas UDFs (dedup/udfs.py).
Bit-for-bit parity of stage-1 outputs is structural: both sides call
`doc_features` with the same config and seed (SURVEY.md §0.2)."""

from __future__ import annotations

from typing import NamedTuple, Optional

import numpy as np

from . import hashing as H
from .config import DedupConfig


class DocFeatures(NamedTuple):
    minhash: np.ndarray      # uint64 (K,)
    runnerup: np.ndarray     # uint64 (K,)
    simhash: int             # unsigned 64-bit value as Python int
    n_shingles: int
    n_tokens: int
    text_sha: str
    fingerprints: np.ndarray  # uint64 (m,) winnowing-selected gram hashes


def minhash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    return H.minhash_params(cfg.seed, cfg.minhash_k)


def doc_features(
    text: Optional[str], cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> Optional[DocFeatures]:
    """Signature bundle for one document, or None if the row is filtered
    (P2: null text or normalized length < min_text_len). Normalization
    happens on a copy; `text` itself is never touched (byte invariant)."""
    if text is None:
        return None
    norm = H.normalize(text)
    if len(norm) < cfg.min_text_len:
        return None
    if cfg.shingle_mode == "word":
        shingles = H.word_shingles(norm, cfg.word_w)
    else:
        shingles = H.char_shingles(norm, cfg.shingle_k)
    if shingles.size == 0:
        return None
    if cfg.minhash_scheme == "oph":
        minh, runner = H.oph_minhash_with_runnerup(
            shingles, cfg.minhash_k, a[0], b[0]
        )
    else:
        minh, runner = H.minhash_with_runnerup(shingles, a, b)
    tokens = norm.split(b" ")
    sim = H.simhash64(H.fnv1a64_tokens(tokens))
    fps = H.winnow_fingerprints(norm, cfg.gram_k, cfg.winnow_window)
    return DocFeatures(
        minhash=minh,
        runnerup=runner,
        simhash=sim,
        n_shingles=int(shingles.size),
        n_tokens=len(tokens),
        text_sha=H.sha256_hex(text),
        fingerprints=fps,
    )


class BatchFeatures(NamedTuple):
    """Column-oriented stage-1 features for the kept rows of one batch."""

    keep: np.ndarray          # int64 (n,) indices into the input batch
    minhash: np.ndarray       # uint64 (n, K)
    runnerup: np.ndarray      # uint64 (n, K)
    simhash: np.ndarray       # uint64 (n,)
    n_shingles: np.ndarray    # int64 (n,)
    n_tokens: np.ndarray      # int64 (n,)
    text_sha: list            # list[str] (n)
    fingerprints: list        # list[np.ndarray uint64] (n)


def batch_doc_features(texts, cfg: DedupConfig, a: np.ndarray, b: np.ndarray):
    """Vectorized stage-1 kernel for a whole Arrow batch — bit-identical
    outputs to calling `doc_features` per document (tests/test_batchkernel
    asserts equality field by field).

    Identical texts within a batch are signed ONCE and fanned back out:
    every feature here is a pure function of the text, and exact
    duplicates are the norm in the corpora this engine exists for (the
    replicated bench corpus is ~94% identical text; real web crawls run
    30-60%), so per-batch dedup removes the dominant share of kernel work
    with no approximation at all.

    The per-document Python and NumPy call overhead is amortized across
    the batch:

      - ALL documents' normalized buffers are joined (single-space
        separators) into one uint8 buffer; the k-char shingle hashes and
        the winnowing gram hashes each come from ONE `fnv1a64_windows`
        pass over it (windows straddling a document boundary are simply
        never selected — per-doc index ranges pick the valid ones);
      - per-document shingle dedup is one global lexsort by (doc, hash);
      - OPH min/runner-up per (doc, bin) is one global lexsort by
        (doc, bin, value); rotation densification is a vectorized
        backward next-filled scan over the (docs x bins) matrix;
      - SimHash token hashes come from `fnv1a64_tokens_batch` (one
        vector pass over all tokens of all documents), and the per-bit
        +/-1 sums reduce per document via np.add.reduceat.

    Only supported for the scale path (shingle_mode='char' +
    minhash_scheme='oph'); callers fall back to the per-doc kernel for
    the other modes (word shingles, classic kxu MinHash).
    """
    if cfg.shingle_mode != "char" or cfg.minhash_scheme != "oph":
        raise ValueError("batched kernel supports char shingles + oph only")
    uniq_idx: dict = {}
    uniq_texts: list = []
    inv = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if t is None:
            inv[i] = -1
            continue
        j = uniq_idx.setdefault(t, len(uniq_texts))
        if j == len(uniq_texts):
            uniq_texts.append(t)
        inv[i] = j
    ubf = _batch_features_unique(uniq_texts, cfg, a, b)
    if ubf is None:
        return None
    if len(uniq_texts) == len(texts):
        return ubf  # no nulls, no duplicates: unique rows ARE the batch
    urow = np.full(len(uniq_texts), -1, dtype=np.int64)
    urow[ubf.keep] = np.arange(ubf.keep.size, dtype=np.int64)
    rows = np.where(inv >= 0, urow[np.maximum(inv, 0)], -1)
    keep = np.nonzero(rows >= 0)[0]
    sel = rows[keep]
    return BatchFeatures(
        keep=keep,
        minhash=ubf.minhash[sel],
        runnerup=ubf.runnerup[sel],
        simhash=ubf.simhash[sel],
        n_shingles=ubf.n_shingles[sel],
        n_tokens=ubf.n_tokens[sel],
        text_sha=[ubf.text_sha[r] for r in sel],
        fingerprints=[ubf.fingerprints[r] for r in sel],
    )


def _batch_features_unique(texts, cfg: DedupConfig, a, b):
    """The vectorized kernel proper, over already-distinct texts."""
    k_sh = cfg.shingle_k
    K = cfg.minhash_k
    # P2 + empty-shingle filter: a char-mode doc signs iff its normalized
    # length >= max(min_text_len, shingle_k) (shorter -> doc_features
    # returns None for exactly the same rows)
    min_len = max(cfg.min_text_len, k_sh)
    norms: list[bytes] = []
    keep: list[int] = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        nm = H.normalize(t)
        if len(nm) < min_len:
            continue
        norms.append(nm)
        keep.append(i)
    n = len(norms)
    if n == 0:
        return None
    big = b" ".join(norms)
    buf = np.frombuffer(big, dtype=np.uint8)
    lens = np.fromiter((len(nm) for nm in norms), count=n, dtype=np.int64)
    doc_off = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=doc_off[1:])  # +1: separator spaces

    def _window_take(wins: np.ndarray, width: int):
        """Valid per-doc window hashes of the joined buffer: values +
        their doc ids, docs in order, positions ascending within a doc."""
        cnt = np.maximum(lens - width + 1, 0)
        total = int(cnt.sum())
        docs = np.repeat(np.arange(n, dtype=np.int64), cnt)
        base = np.repeat(doc_off, cnt)
        local = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        return wins[base + local], docs, cnt

    # --- shingles: one FNV pass + one global per-doc dedup sort ----------
    wins_sh = H.fnv1a64_windows(buf, k_sh)
    sh, sh_doc, _ = _window_take(wins_sh, k_sh)
    order = np.lexsort((sh, sh_doc))
    sh, sh_doc = sh[order], sh_doc[order]
    first = np.ones(sh.size, dtype=bool)
    first[1:] = (sh_doc[1:] != sh_doc[:-1]) | (sh[1:] != sh[:-1])
    sh_u, doc_u = sh[first], sh_doc[first]
    n_shingles = np.bincount(doc_u, minlength=n)

    # --- OPH min + runner-up per (doc, bin), densification vectorized ----
    log2k = K.bit_length() - 1
    x = H.mod61(sh_u)
    hu = H.mod61(
        H.mulmod61(np.full(x.shape, a[0], dtype=np.uint64), x) + np.uint64(b[0])
    )
    bins = (hu >> np.uint64(61 - log2k)).astype(np.int64)
    ht = hu >> np.uint64(30)  # 31-bit slot truncation (see hashing.py)
    o2 = np.lexsort((ht, bins, doc_u))
    d2, b2, h2 = doc_u[o2], bins[o2], ht[o2]
    gfirst = np.ones(h2.size, dtype=bool)
    gfirst[1:] = (d2[1:] != d2[:-1]) | (b2[1:] != b2[:-1])
    fi = np.nonzero(gfirst)[0]
    si = np.minimum(fi + 1, h2.size - 1)
    has2 = (fi + 1 < h2.size) & ~gfirst[si] if h2.size > 1 else np.zeros(fi.size, bool)
    minv = h2[fi]
    runv = np.where(has2, h2[si], minv)
    minh = np.zeros((n, K), dtype=np.uint64)
    runner = np.zeros((n, K), dtype=np.uint64)
    filled = np.zeros((n, K), dtype=bool)
    minh[d2[fi], b2[fi]] = minv
    runner[d2[fi], b2[fi]] = runv
    filled[d2[fi], b2[fi]] = True
    if not filled.all():
        nf = np.full((n, K + 1), K, dtype=np.int64)
        for j in range(K - 1, -1, -1):
            nf[:, j] = np.where(filled[:, j], j, nf[:, j + 1])
        first_filled = nf[:, 0]  # < K: every kept doc has >= 1 shingle
        de, ee = np.nonzero(~filled)
        # nf[doc, e] with filled[doc, e] False is the first filled bin
        # STRICTLY right of e — same as searchsorted over occupied bins
        nxt = nf[de, ee]
        wrap = nxt == K
        nxtb = np.where(wrap, first_filled[de], nxt)
        dist = np.where(wrap, nxtb + K - ee, nxtb - ee).astype(np.uint64)
        dval = (minh[de, nxtb] + dist * np.uint64(0x01000193)) & np.uint64(
            0x7FFFFFFF
        )
        minh[de, ee] = dval
        runner[de, ee] = dval

    # --- SimHash: batched token FNV + per-bit reduceat -------------------
    sp = np.nonzero(buf == 0x20)[0]
    tstarts = np.concatenate((np.zeros(1, dtype=np.int64), sp + 1))
    tends = np.concatenate((sp, np.array([buf.size], dtype=np.int64)))
    tlens = tends - tstarts  # all > 0: norms are stripped + ws-collapsed
    th = H.fnv1a64_tokens_batch(buf, tstarts, tlens)
    tok_doc = np.searchsorted(doc_off, tstarts, side="right") - 1
    n_tokens = np.bincount(tok_doc, minlength=n)
    tok_first = np.cumsum(n_tokens) - n_tokens  # first token index per doc
    ones = np.empty((n, 64), dtype=np.int64)
    for bit in range(64):
        ones[:, bit] = np.add.reduceat(
            ((th >> np.uint64(bit)) & np.uint64(1)).astype(np.int64), tok_first
        )
    # simhash64: bit set iff sum(±1) > 0 ⇔ 2*ones > n_tokens
    bitset = (2 * ones) > n_tokens[:, None]
    sim = (
        bitset.astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :]
    ).sum(axis=1, dtype=np.uint64)

    # --- winnowing: one gram FNV pass + ONE global window argmin ---------
    # The rightmost-min selection runs over a sliding view of the joined
    # gram array in a single vectorized argmin; per-doc valid window
    # ranges then pick their selected values (cross-doc windows are never
    # picked), and one lexsort dedups (doc, value) globally. Only docs
    # shorter than one winnow window take the per-doc short path.
    wins_g = H.fnv1a64_windows(buf, cfg.gram_k)
    cnt_g = np.maximum(lens - cfg.gram_k + 1, 0)
    W = cfg.winnow_window
    fps: list = [None] * n
    long_mask = cnt_g > W
    if long_mask.any():
        # rightmost-min per window == leftmost-min over the REVERSED gram
        # array; argmin runs on a contiguous copy (argmin over a
        # negative-stride view falls off NumPy's fast path, measured 6x
        # slower at batch scale)
        rev = wins_g[::-1].copy()
        vr = np.lib.stride_tricks.sliding_window_view(rev, W)
        jglob = (W - 1 - np.argmin(vr, axis=1))[::-1]  # rightmost min
        wcnt = np.where(long_mask, cnt_g - W + 1, 0)
        total_w = int(wcnt.sum())
        docs_w = np.repeat(np.arange(n, dtype=np.int64), wcnt)
        wstart = (
            np.repeat(doc_off, wcnt)
            + np.arange(total_w, dtype=np.int64)
            - np.repeat(np.cumsum(wcnt) - wcnt, wcnt)
        )
        vals = wins_g[wstart + jglob[wstart]]
        o3 = np.lexsort((vals, docs_w))
        dv, vv = docs_w[o3], vals[o3]
        kp = np.ones(dv.size, dtype=bool)
        kp[1:] = (dv[1:] != dv[:-1]) | (vv[1:] != vv[:-1])
        dv, vv = dv[kp], vv[kp]
        chunks = np.split(vv, np.cumsum(np.bincount(dv, minlength=n))[:-1])
        for i in np.nonzero(long_mask)[0]:
            fps[i] = chunks[i]
    for i in np.nonzero(~long_mask)[0]:
        fps[i] = H.winnow_select(
            wins_g[doc_off[i] : doc_off[i] + cnt_g[i]], W
        )

    shas = [H.sha256_hex(texts[i]) for i in keep]
    return BatchFeatures(
        keep=np.array(keep, dtype=np.int64),
        minhash=minh,
        runnerup=runner,
        simhash=sim,
        n_shingles=n_shingles.astype(np.int64),
        n_tokens=n_tokens.astype(np.int64),
        text_sha=shas,
        fingerprints=fps,
    )


def u64_to_i64(x: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 as two's-complement int64 (Spark LongType view)."""
    return np.asarray(x, dtype=np.uint64).view(np.int64)
