"""Unit tests for the shared NumPy kernels (SURVEY.md §5 item 2)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dedup import hashing as H

M61 = (1 << 61) - 1


# --- FNV-1a -----------------------------------------------------------------
def test_fnv1a64_known_vectors():
    # public FNV-1a test vectors
    assert H.fnv1a64(b"") == 0xCBF29CE484222325
    assert H.fnv1a64(b"a") == 0xAF63DC4C8601EC8C
    assert H.fnv1a64(b"foobar") == 0x85944171F73967E8


def test_fnv1a64_windows_matches_scalar():
    data = b"the quick brown fox jumps over the lazy dog"
    buf = np.frombuffer(data, dtype=np.uint8)
    got = H.fnv1a64_windows(buf, 5)
    want = [H.fnv1a64(data[i : i + 5]) for i in range(len(data) - 4)]
    assert got.tolist() == want


def test_fnv1a64_windows_short_input():
    assert H.fnv1a64_windows(np.frombuffer(b"ab", dtype=np.uint8), 5).size == 0


# --- Mersenne-61 arithmetic ---------------------------------------------------
@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=M61 - 1),
    st.integers(min_value=0, max_value=M61 - 1),
)
def test_mulmod61_matches_python_int(a, b):
    got = H.mulmod61(np.array([a], dtype=np.uint64), np.array([b], dtype=np.uint64))
    assert int(got[0]) == (a * b) % M61


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
def test_mod61_matches_python_int(y):
    got = H.mod61(np.array([y], dtype=np.uint64))
    assert int(got[0]) == y % M61


def test_minhash_family_matches_python_int():
    a, b = H.minhash_params(seed=42, k=8)
    x = np.array([12345678901234567890 % M61, 7, M61 - 1], dtype=np.uint64)
    h = H.mod61(H.mulmod61(a[None, :], x[:, None]) + b[None, :])
    for i in range(3):
        for j in range(8):
            assert int(h[i, j]) == (int(a[j]) * int(x[i]) + int(b[j])) % M61


# --- shingles + minhash -------------------------------------------------------
def test_char_shingles_set_semantics():
    s = H.char_shingles(b"ababab", 2)  # windows ab,ba,ab,ba,ab -> {ab, ba}
    assert s.size == 2
    assert np.all(np.diff(s.astype(np.int64)) > 0)  # sorted unique


def test_minhash_runnerup_ordering():
    a, b = H.minhash_params(42, 16)
    sh = H.char_shingles(H.normalize("The quick brown fox jumps"), 5)
    minh, run = H.minhash_with_runnerup(sh, a, b)
    assert np.all(run >= minh)
    # brute-force check of min and second-min
    x = H.mod61(sh)
    hfull = H.mod61(H.mulmod61(a[None, :], x[:, None]) + b[None, :])
    srt = np.sort(hfull, axis=0)
    assert np.array_equal(minh, srt[0])
    assert np.array_equal(run, srt[1])


def test_minhash_single_shingle_runnerup_equals_min():
    a, b = H.minhash_params(42, 8)
    minh, run = H.minhash_with_runnerup(np.array([123], dtype=np.uint64), a, b)
    assert np.array_equal(minh, run)


def test_minhash_estimates_jaccard():
    """Property test (SURVEY §5.3): |estimate - true| <= 3/sqrt(K)."""
    rng = np.random.default_rng(0)
    a, b = H.minhash_params(42, 128)
    base = rng.integers(0, 1 << 63, size=400, dtype=np.uint64)
    other = np.concatenate([base[:300], rng.integers(0, 1 << 63, 100, dtype=np.uint64)])
    sa = np.unique(base)
    sb = np.unique(other)
    true_j = np.intersect1d(sa, sb).size / np.union1d(sa, sb).size
    ma, _ = H.minhash_with_runnerup(sa, a, b)
    mb, _ = H.minhash_with_runnerup(sb, a, b)
    est = float(np.mean(ma == mb))
    assert abs(est - true_j) <= 3 / np.sqrt(128)


# --- band keys ----------------------------------------------------------------
def test_band_keys_deterministic_and_band_sensitive():
    sig = np.arange(128, dtype=np.uint64)
    k1 = H.band_keys(sig, 8, 16)
    k2 = H.band_keys(sig.copy(), 8, 16)
    assert np.array_equal(k1, k2)
    # identical slot values in different bands must give different keys
    flat = np.zeros(128, dtype=np.uint64)
    kf = H.band_keys(flat, 8, 16)
    assert len(set(kf.tolist())) == 8


def test_band_keys_batch_matches_single():
    rng = np.random.default_rng(1)
    sigs = rng.integers(0, M61, size=(5, 128), dtype=np.uint64)
    batch = H.band_keys_batch(sigs, 16, 8)
    for i in range(5):
        assert np.array_equal(batch[i], H.band_keys(sigs[i], 16, 8))


# --- probe sequence ([MPLSH §4.1]) ---------------------------------------------
def test_probe_sets_worked_example():
    """Pin the exact expand/shift order on a hand-computed example.

    gaps (by original row) = [5, 1, 3, 2]; sorted ascending: row1(1),
    row3(2), row2(3), row0(5).  Subset scores over sorted z=(1,2,3,5):
      {1}=1  {2}=2  {1,2}=3  {3}=3  {1,3}=4  {2,3}=5  {4}=5 {1,2,3}=6 ...
    Ties broken by the heap tuple: (3,(0,1)) < (3,(1,)) since tuples compare.
    """
    gaps = np.array([5, 1, 3, 2], dtype=np.uint64)
    sets = H.probe_sets(gaps, t_probes=8)
    # sorted order positions -> original rows: z0=row1, z1=row3, z2=row2, z3=row0
    assert sets[0] == (1,)          # {z0} score 1
    assert sets[1] == (3,)          # {z1} score 2
    assert {sets[2], sets[3]} == {(1, 3), (2,)}  # both score 3
    # scores must be non-decreasing
    z = {1: 1, 3: 2, 2: 3, 0: 5}
    scores = [sum(z[r] for r in s) for s in sets]
    assert scores == sorted(scores)
    assert len(sets) == 7


def test_probe_sets_excludes_zero_gap_rows():
    gaps = np.array([0, 4, 0, 2], dtype=np.uint64)
    sets = H.probe_sets(gaps, 8)
    flat = {r for s in sets for r in s}
    assert flat <= {1, 3}
    assert sets[0] == (3,)  # smallest positive gap first


def test_probe_sets_no_probes_cases():
    assert H.probe_sets(np.zeros(4, dtype=np.uint64), 8) == []
    assert H.probe_sets(np.array([1, 2], dtype=np.uint64), 1) == []


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 4), min_size=0, max_size=8))
def test_probe_order_enumerates_every_subset_once(costs):
    """Run to exhaustion, probe_order yields each nonempty subset of the
    positions exactly once, totals never decrease, and equal totals come
    out in tuple order — with tied and zero costs."""
    z = sorted(costs)
    sets = list(H.probe_order(z))
    assert len(sets) == len(set(sets)) == 2 ** len(z) - 1
    assert all(s == tuple(sorted(set(s))) for s in sets)
    keys = [(sum(z[p] for p in s), s) for s in sets]
    assert keys == sorted(keys)


def test_probe_keys_match_band_hash_of_perturbed_sig():
    a, b = H.minhash_params(42, 128)
    sh = H.char_shingles(H.normalize("some document text for probing tests here"), 5)
    minh, run = H.minhash_with_runnerup(sh, a, b)
    probes = H.probe_keys_for_doc(minh, run, bands=8, rows=16, t_probes=4)
    assert probes, "expected probe keys"
    # re-derive each key by perturbing the signature then hashing the band
    gaps = run - minh
    for band in range(8):
        sets = H.probe_sets(gaps[band * 16 : (band + 1) * 16], 4)
        got = [(bb, rk, int(k)) for (bb, rk, k) in probes if bb == band]
        assert len(got) == len(sets)
        for (bb, rank, key), rows_to_flip in zip(got, sets):
            sig2 = minh.copy()
            for rr in rows_to_flip:
                sig2[band * 16 + rr] = run[band * 16 + rr]
            assert key == int(H.band_keys(sig2, 8, 16)[band])
            assert rank >= 1


# --- simhash -------------------------------------------------------------------
def test_simhash_identical_and_perturbed():
    toks = H.normalize("alpha beta gamma delta epsilon zeta eta theta " * 6).split(b" ")
    h1 = H.simhash64(H.fnv1a64_tokens(toks))
    h2 = H.simhash64(H.fnv1a64_tokens(list(toks)))
    assert h1 == h2
    # one token changed out of ~48 -> small hamming distance
    toks2 = list(toks)
    toks2[3] = b"UNIQUE_REPLACEMENT_TOKEN"
    h3 = H.simhash64(H.fnv1a64_tokens(toks2))
    assert 0 < bin(h1 ^ h3).count("1") <= 16


def test_simhash_blocks_and_combo_pigeonhole():
    from dedup.config import DEFAULT

    widths = DEFAULT.simhash_block_widths
    assert sum(widths) == 64 and len(widths) == DEFAULT.pigeonhole_blocks
    rng = np.random.default_rng(3)
    for _ in range(50):
        a = int(rng.integers(0, 1 << 63))
        # flip up to hamming_radius random bits
        b = a
        for bit in rng.choice(64, size=DEFAULT.hamming_radius, replace=False):
            b ^= 1 << int(bit)
        ka = dict(H.simhash_combo_keys(a, widths, DEFAULT.pigeonhole_combo))
        kb = dict(H.simhash_combo_keys(b, widths, DEFAULT.pigeonhole_combo))
        # pigeonhole guarantee: >= 1 combo key identical at hamming <= radius
        assert any(ka[c] == kb[c] for c in ka)
    # reconstruction: blocks re-concatenated give back the value
    val = 0x123456789ABCDEF0
    blocks = H.simhash_blocks(val, widths)
    rebuilt = 0
    shift = 0
    for w, blk in zip(widths, blocks):
        rebuilt |= blk << shift
        shift += w
    assert rebuilt == val
    assert H.simhash64(np.empty(0, dtype=np.uint64)) == 0


# --- winnowing -------------------------------------------------------------------
def test_winnow_guarantee_shared_substring():
    """Any shared normalized substring >= w+k-1 chars ⇒ shared fingerprint."""
    rng = np.random.default_rng(7)
    vocab = ["lorem", "ipsum", "dolor", "sit", "amet", "velit", "esse", "cillum"]
    mk = lambda n: " ".join(rng.choice(vocab, n))
    span = mk(30)  # ~180 chars
    doc_a = H.normalize(mk(20) + " " + span + " " + mk(20))
    doc_b = H.normalize(mk(25) + " " + span + " " + mk(15))
    fa = H.winnow_fingerprints(doc_a, 16, 35)
    fb = H.winnow_fingerprints(doc_b, 16, 35)
    assert np.intersect1d(fa, fb).size > 0


def test_winnow_density_and_determinism():
    text = H.normalize("word" + " ".join(f"tok{i}" for i in range(200)))
    f1 = H.winnow_fingerprints(text, 16, 35)
    f2 = H.winnow_fingerprints(bytes(text), 16, 35)
    assert np.array_equal(f1, f2)
    n_grams = len(text) - 16 + 1
    # winnowing density ~ 2/(w+1); allow generous slack
    assert 0 < f1.size < n_grams * 0.2


def test_winnow_short_doc():
    f = H.winnow_fingerprints(H.normalize("tiny text here"), 16, 35)
    assert f.size <= 1  # shorter than one window -> at most one fingerprint
