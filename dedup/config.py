"""Frozen dedup configuration (SURVEY.md §7.0 — locked so the NumPy oracle
and the Spark pipeline can never drift; all parity tests pin DEFAULT).

Evidence for parameter choices: BASELINE.json:6 (north star names MinHash
shingles, band hashing, multi-probe perturbation sequences, SimHash
Hamming-ball, suffix/substring pass, Jaccard verification, large-star/
small-star CC, salted two-stage aggregation); [MPLSH §4] for the probe
sequence; [E2LSH] for the hash-family shape.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict, replace
import hashlib
import json


@dataclass(frozen=True)
class DedupConfig:
    # global determinism
    seed: int = 42

    # --- stage 1: signatures -------------------------------------------
    # normalization: unicode lower + collapse whitespace, applied to a COPY
    # of `text` only (byte-identity invariant, BASELINE.json:15)
    shingle_k: int = 5          # char k-shingles (shingle_mode="char")
    # F2 shingle granularity: "char" (k-byte shingles of the normalized
    # text) or "word" (word_w-token shingles — coarser, punishes word
    # edits harder; parity-tested in both modes)
    shingle_mode: str = "char"
    word_w: int = 3             # tokens per shingle in word mode
    minhash_k: int = 128        # K signature slots
    # MinHash scheme: "oph" = one-permutation hashing + rotation
    # densification (O(n) per doc — the scale path; see
    # hashing.oph_minhash_with_runnerup); "kxu" = classic K universal
    # hashes h_i(x) = (a_i*x+b_i) mod (2^61-1) (O(n*K), kept for
    # comparison tests and as the literature baseline)
    minhash_scheme: str = "oph"
    min_text_len: int = 5       # rows with shorter normalized text are skipped (P2)

    # --- stage 2: banding + multi-probe ---------------------------------
    bands: int = 8              # b
    rows_per_band: int = 16     # r ; b*r must equal minhash_k
    probes: int = 8             # T = buckets probed per band INCLUDING home
                                # (T=1 → plain banding, no perturbations)

    # --- simhash tier ----------------------------------------------------
    # Manku/Jain/Sarma (WWW 2007) combination blocking: split the 64-bit
    # SimHash (hashing.simhash64; always 64 bits) into
    # `pigeonhole_blocks` blocks and index every `pigeonhole_combo`-subset
    # of blocks as one key. hamming <= blocks - combo flipped bits leave
    # >= combo blocks clean, so at least one combo key matches exactly.
    # 3-of-6 gives ~32-bit keys (selective to ~10^9 docs) instead of the
    # 16-bit keys of the naive 4-block scheme, which saturate the bucket
    # cap and kill the tier at web scale.
    hamming_radius: int = 3
    pigeonhole_blocks: int = 6
    pigeonhole_combo: int = 3   # keys = C(blocks, combo) per doc (20)

    # --- substring tier (winnowing fingerprints; guarantee t = w + k - 1) -
    # gram_k=32 (not 16): a 32-char shared span needs ~5 consecutive shared
    # words — selective enough that fingerprint buckets stay near-singleton
    # on non-duplicate docs; k=16 floods candidates with common-phrase hits.
    gram_k: int = 32            # char gram size for fingerprinting
    winnow_window: int = 19     # w ; t = 32 + 19 - 1 = 50 = min_substr

    # --- stage 4: verification ------------------------------------------
    jaccard_tau: float = 0.8    # signature-Jaccard ⇒ duplicate edge

    # --- skew / scale knobs ----------------------------------------------
    max_bucket: int = 64        # buckets larger than this are dropped+logged (A1)
    salt_buckets: int = 16      # two-stage salted aggregation fan (A2)
    # Explicit salting of the CC min-label aggregation. Spark's hash
    # aggregate already performs map-side partial aggregation (the implicit
    # two-stage combine), so the explicit salt only pays for itself under
    # extreme reducer skew at very large scale; it costs one extra shuffle
    # per star operation when on.
    cc_salted_agg: bool = False

    # --- stage 5: connected components -----------------------------------
    cc_max_iters: int = 50

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.minhash_k:
            raise ValueError("bands * rows_per_band must equal minhash_k")
        if self.minhash_scheme not in ("oph", "kxu"):
            raise ValueError(f"unknown minhash_scheme {self.minhash_scheme!r}")
        if self.shingle_mode not in ("char", "word"):
            raise ValueError(f"unknown shingle_mode {self.shingle_mode!r}")
        if self.minhash_scheme == "oph" and (
            self.minhash_k & (self.minhash_k - 1)
        ):
            raise ValueError("minhash_scheme='oph' requires power-of-two minhash_k")
        if self.hamming_radius > self.pigeonhole_blocks - self.pigeonhole_combo:
            raise ValueError(
                "pigeonhole guarantee needs hamming_radius <= blocks - combo"
            )

    @property
    def min_substr(self) -> int:
        """Guaranteed-detection threshold in chars: winnowing finds every
        shared span of at least t = w + k - 1 chars."""
        return self.winnow_window + self.gram_k - 1

    @property
    def simhash_block_widths(self) -> tuple[int, ...]:
        """Per-block bit widths (as equal as possible, MSB-blocks narrower),
        e.g. 64 bits / 6 blocks -> (11, 11, 11, 11, 10, 10)."""
        q, r = divmod(64, self.pigeonhole_blocks)
        return tuple(q + 1 if i < r else q for i in range(self.pigeonhole_blocks))

    def config_hash(self) -> str:
        """Stable hash of every parameter — keyed into checkpoint manifests
        so a resumed run never mixes outputs from different configs."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


#: Headline config (SURVEY.md §7.0): multi-probe — 8 bands × 16 rows, T=8.
DEFAULT = DedupConfig()

#: Plain-banding control (M1/M3 comparison): 16 bands × 8 rows, no probes.
BANDING16 = DedupConfig(bands=16, rows_per_band=8, probes=1)

#: Classic K-universal-hash MinHash (the literature baseline; O(n*K) per
#: doc). Used by comparison tests; the scale path is DEFAULT's "oph".
CLASSIC = DedupConfig(minhash_scheme="kxu")
