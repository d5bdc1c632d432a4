"""Engine configuration (frozen) — the canonical shingle/signature config.

Values mirror the reference's hard-coded envelope constants where one exists
(cited), plus the dedup config the recall >= 0.99 gate runs at
(BASELINE.md section B).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / signatures (BASELINE.md section B canonical config) ---
    shingle_w: int = 5          # word-shingle width
    minhash_k: int = 128        # number of MinHash permutations
    lsh_bands: int = 16         # b
    lsh_rows: int = 8           # r  (b*r must == minhash_k)
    jaccard_tau: float = 0.8    # verification threshold
    simhash_bits: int = 64
    simhash_hamming: int = 3    # near-dup iff hamming distance <= 3
    # Manku et al. (WWW'07) pigeonhole tables: split 64 bits into B blocks,
    # key each table on a (B - hamming)-block combination => C(B, B-H)
    # tables with ~32-bit keys. 16-bit single-block keys saturate at ~65k
    # buckets (pair count O(n^2/2^16)); 3-block keys push that to 2^32.
    simhash_blocks: int = 6
    # SimHash edges in the flagship union: OFF by default. Hamming <= 3 over
    # the 64-bit shingle fingerprint empirically implies near-identical
    # shingle sets, so simhash pairs are a subset of the Jaccard closure the
    # MinHash path already resolves — but "empirically a subset" is not a
    # guarantee, and one simhash-only link on a foreign corpus would make the
    # flagship's brute-force SQL oracle (which cannot express blake2b
    # hamming) diverge spuriously. SimHash therefore runs as its own
    # driver-verified operator (queries.simhash_consistency + pytest parity
    # vs the numpy oracle) rather than as a flagship edge kind; flipping this
    # on restores the belt-and-braces union (engine + numpy oracle both obey
    # the flag). Side benefit at scale: the sim-block bucket stream is ~20
    # keys/doc — skipping it nearly halves the edges-stage bucket exchange.
    simhash_edges: bool = False
    seed: int = 42

    # --- containment (anchor-sampled substring pass, SURVEY B8) ---
    # a shingle is an "anchor" iff hash % anchor_mod == 0; both docs of a
    # containment pair sample the same anchors deterministically, so any
    # shared-shingle mass >= tau implies shared anchors w.h.p.
    anchor_mod: int = 8
    # anchor buckets LARGER than this are dropped outright (not truncated):
    # a shingle shared by that many docs is boilerplate and carries no
    # containment signal, while true containment pairs also share rare
    # anchors; truncation would keep O(cap^2) garbage pairs per stop-shingle
    # (=8: ~10x candidate reduction vs 64 at 20k docs with recall still 1.0
    # on the planted-family corpus — containment pairs share many anchors,
    # so one globally-rare shared anchor suffices)
    anchor_max_bucket: int = 8
    containment_tau: float = 0.8  # fraction of the smaller doc's shingles in the larger
    # exact-substring pass (SURVEY B8): verify the length-gated
    # anchor tier-1 survivors for EXACT substring containment (smaller text
    # occurs verbatim inside the larger) and emit kind='substring' edges.
    # True substring pairs have shingle-containment ~1 >> tau, so the anchor
    # candidate stream already carries them — the incremental cost is one
    # text join for the (few) surviving pairs.
    substring_pass: bool = True
    # two-tier verify: anchor candidate pairs are pre-filtered on the
    # containment ESTIMATE shared_kept_anchors/min(n_anchors) >= tau - margin
    # (scalar join; no shingle arrays move) before the exact shingle-set
    # verify. margin ~ 6 sigma of the 1/anchor_mod sampling estimator for
    # typical docs (~75 anchors) — false-negative odds ~1e-7 per true pair.
    anchor_est_margin: float = 0.28

    # --- skew / scale guards ---
    max_bucket_size: int = 200   # LSH bucket cap: larger buckets are salted/cut
    mega_domain_threshold: int = 10_000  # per-domain row count before salting
    mega_domain_salts: int = 32

    # --- reference envelope constants (kept for the politeness mirror) ---
    # administrator.go:28 / administrator_helpers.go:64-73
    domain_visit_cap: int = 100
    domain_visit_cap_bonus: int = 200   # .org / .edu / .ac.uk
    # fetcher.go:29
    max_body_bytes: int = 2 * 1024 * 1024
    # administrator_helpers.go:63-73 (effective per-page link budget)
    link_budget: int = 20

    # --- execution ---
    shuffle_partitions: int = 32
    arrow_batch_rows: int = 2_000
    # candidate verification:
    #   "exact"     — join the distinct-shingle arrays and compute exact
    #                 Jaccard/containment (bit-identical to the oracle).
    #   "signature" — the extreme-scale path: shingle arrays are NOT carried
    #                 past the signature stage (they are text-sized);
    #                 Jaccard is estimated as the fraction of equal MinHash
    #                 components (unbiased, sd = sqrt(J(1-J)/k) ~ 0.035 at
    #                 J=0.8, k=128) and containment is derived from it via
    #                 inter = J*(na+nb)/(1+J). Thresholds are lowered by
    #                 signature_tau_margin (~3 sigma) so estimator variance
    #                 costs recall odds ~1e-3 per true pair, trading a little
    #                 precision (acceptable: dedup edges over-merge slightly
    #                 rather than miss).
    verify_mode: str = "exact"
    signature_tau_margin: float = 0.10

    def config_hash(self) -> str:
        """Stable hash used by the stage-resume logic (skip-if-committed)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.minhash_k:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}x{self.lsh_rows}) "
                f"must equal minhash_k ({self.minhash_k})"
            )
        if self.simhash_blocks <= self.simhash_hamming:
            raise ValueError("need more simhash blocks than hamming budget")


DEFAULT_CONFIG = DedupConfig()

# Title filter terms — extractor.go:23
FILTER_TERMS = ("xxx", "porn", "sex", "onlyfans", "gore", "hentai")

# Social domain allowlist — extractor.go:16-22
SOCIAL_DOMAINS = frozenset(
    {"facebook.com", "twitter.com", "x.com", "instagram.com", "linkedin.com"}
)
