"""Exact substring verify (SURVEY.md B8, the substring pass).

Shingle-set containment (lsh.py) catches token-level containment; this
operator verifies EXACT substring relations (doc A is a contiguous substring
of doc B) for candidate pairs.

Scale design: the engine's B8 path is lsh._verified_edges — candidates are
the anchor tier-1 survivors (shared rare shingles), the length gate
(lsh._length_gate) runs on signature-stage n_chars metadata carried by the
tier-1 join — no text re-scan — and prunes equal-length pairs (identical
texts are exact edges, unequal texts of one length cannot contain each
other), and only the gated pairs' texts are co-located for one JVM-side
byte search per pair here (no Python stage). That search is a naive scan:
O(|small|·|big|) byte compares in the worst case, bounded by the 64 KiB
per-doc text cap (textnorm). No global suffix array is built: over 10^12
docs it is infeasible, and the anchor stream already bounds the verify to
O(true-positive pairs).

Documented miss classes of the anchor-sampled candidate stream (what the
sampling can structurally NOT see — stated here and mirrored in the SQL
oracle's preconditions rather than claimed away, SURVEY.md section 7):

1. contained doc shorter than shingle_w tokens — its whole-sequence
   fallback shingle can never equal one of the container's w-gram hashes;
2. contained doc with zero kept anchors — none of its shingle hashes is
   ≡ 0 (mod anchor_mod), odds (1-1/mod)^m for m shingles (~1e-6 at m=100,
   mod=8; only very short docs are realistically at risk), or every one of
   its anchors sits in an oversize-dropped boilerplate bucket;
3. char-level substrings that are token-misaligned for MOST of their
   length (a misaligned prefix only corrupts the leading shingle windows,
   so long occurrences still share enough anchors in practice).

For true substring pairs OUTSIDE those classes the tier-1 estimate is
exactly 1 (every kept anchor of the contained doc is, by the substring
relation, a kept anchor of the container), so the anchor stream finds them
deterministically — not w.h.p.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def verify_substring_pairs(gated: DataFrame, docs: DataFrame) -> DataFrame:
    """gated(a, b) + docs(doc_id, text) -> (a, b, is_substring, container).

    One projection over the two joined texts: the smaller text (by
    ``length``; ties pick ``a``'s) is searched inside the larger with
    ``Column.contains``, and ``container`` is the larger doc's id when the
    search hits, else null. The search compares UTF-8 bytes, and byte
    containment of valid UTF-8 equals code-point containment, so verdicts
    equal Python's ``str in str``. A null or empty text contains nothing
    and is contained in nothing. The caller guarantees the pairs already
    passed the length gate (lsh._length_gate: differing, non-zero lengths),
    so identical-text pairs never reach this point — they are exact-kind
    edges, not substring edges."""
    ta = docs.select(
        F.col("doc_id").alias("a"), F.coalesce("text", F.lit("")).alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("b"), F.coalesce("text", F.lit("")).alias("text_b")
    )
    a_small = F.length("text_a") <= F.length("text_b")
    small = F.when(a_small, F.col("text_a")).otherwise(F.col("text_b"))
    big = F.when(a_small, F.col("text_b")).otherwise(F.col("text_a"))
    hit = (F.length(small) > 0) & big.contains(small)
    return gated.join(ta, "a").join(tb, "b").select(
        "a",
        "b",
        hit.alias("is_substring"),
        F.when(hit, F.when(a_small, F.col("b")).otherwise(F.col("a"))).alias(
            "container"
        ),
    )
