"""Exact substring verify (SURVEY.md B8, the substring pass).

Shingle-set containment (lsh.py) catches token-level containment; this
operator verifies EXACT substring relations (doc A is a contiguous substring
of doc B) for candidate pairs.

Scale design: the engine's B8 path is lsh._verified_edges — candidates are
the anchor tier-1 survivors (shared rare shingles), the length gate
(lsh._length_gate) runs on signature-stage n_chars metadata carried by the
tier-1 join — no text re-scan — and prunes equal-length pairs (identical
texts are exact edges, unequal texts of one length cannot contain each
other), and only the gated pairs' texts are co-located for the per-pair
O(|B|) Two-Way search inside an Arrow batch here. No global suffix array is
built: over 10^12 docs it is infeasible, and the anchor stream already
bounds the verify to O(true-positive pairs).

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

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("is_substring", T.BooleanType()),
        T.StructField("container", T.LongType()),  # the larger doc, when true
    ]
)


def verify_substring_pairs(gated: DataFrame, docs: DataFrame) -> DataFrame:
    """gated(a, b) + docs(doc_id, text) -> (a, b, is_substring, container).

    The smaller text is searched inside the larger (str in str — C-level
    Two-Way algorithm). The caller guarantees the pairs already passed the
    length gate (lsh._length_gate: differing, non-zero lengths), so
    identical-text pairs never reach this point — they are exact-kind
    edges, not substring edges."""
    ta = docs.select(F.col("doc_id").alias("a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("b"), F.col("text").alias("text_b"))
    # rebalance before the Python stage: the (tiny) pair set is broadcast
    # against the docs scan, so the join output inherits the scan's split
    # count — mostly-empty partitions that each still launch a Python
    # worker task. The AQE rebalance packs the surviving (pair, texts) rows
    # into ~advisory-sized partitions at any scale (it is NOT cached, so
    # AQE is free to coalesce), and the exchange moves only verified-pair
    # texts, O(true pairs).
    joined = gated.join(ta, "a").join(tb, "b").hint("rebalance")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"a": [], "b": [], "is_substring": [], "container": []}
            for a, b, x, y in zip(pdf["a"], pdf["b"], pdf["text_a"], pdf["text_b"]):
                x = x or ""
                y = y or ""
                small, big = (x, y) if len(x) <= len(y) else (y, x)
                hit = bool(small) and small in big
                out["a"].append(int(a))
                out["b"].append(int(b))
                out["is_substring"].append(hit)
                out["container"].append(
                    int(b if len(x) <= len(y) else a) if hit else None
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(gen, schema=_PAIR_SCHEMA)
