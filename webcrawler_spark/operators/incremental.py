"""Incremental dedup: new-batch-vs-corpus without full recompute.

A training-data pipeline adds a crawl increment and asks "which new docs
duplicate the existing corpus?" — the content-level analog of the
reference's resume-and-continue frontier semantics (administrator.go:251-276
re-seeds the crawl from persisted state instead of restarting). The batch
path (lsh.build_edges) recomputes everything; this module extends an
existing run from its persisted stage outputs:

- **state** = the capped unified bucket table (gen, key, doc_id), the
  signature table, and the cluster assignments of the existing corpus —
  exactly the stage outputs the pipeline already checkpoints (plans/
  pipeline.py writes signatures + edges + assignments per stage; the bucket
  table is one more ``unified_capped_buckets`` materialization).
- an increment only touches bucket keys the NEW batch occupies: candidate
  work is proportional to the batch, not the corpus. Old bucket rows are
  fetched by key (at cluster scale: a bucketed/partitioned stage table —
  the join shuffles only the new side), re-capped TOGETHER with the new
  rows so the cap/drop policies see combined bucket sizes, and pairs with
  at least one new side are verified by the SAME tail as the batch path
  (new-vs-old and new-vs-new; old-vs-old pairs were already resolved and
  are filtered out before any verify work). ``incremental_edges`` derives
  only its own candidates, kept-anchor counts and exact edges, then hands
  them to ``lsh._verified_edges`` — the tier-1 → Jaccard/containment →
  simhash → length-gate → substring tail ``build_edges`` runs.
- assignments extend via union-find SEEDED with the existing cluster ids:
  old components enter as (cluster_id, member) star edges, so a new doc
  bridging two old clusters merges them exactly as a full recompute would,
  and the min-root convention is preserved (min over the merged component
  is the global min).

Equivalence to full recompute (the driver-checked contract —
``dedup_incremental``'s oracle is the full-recompute SQL over the
concatenated corpus; tools/incremental_bench.py re-checks doc-for-doc
equality at 1M): anchor DROP semantics are replicated exactly — combined
counts decide survival for touched keys, untouched keys keep their
recorded survival, and keys the original corpus dropped as boilerplate are
excluded via the state's ``dropped_anchor_keys`` table (see DedupState:
without it, batch-locally-rare boilerplate keys inflate the tier-1
denominator and borderline true pairs are missed). LSH bucket truncation
keeps the cap smallest doc_ids per key, and the 200 smallest of
(state's 200 smallest olds ∪ news) equal the 200 smallest of
(all olds ∪ news) for ANY id interleaving, so pre-capped state is
lossless there too.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_spark.config import DedupConfig, DEFAULT_CONFIG
from webcrawler_spark.operators.components import assign_clusters
from webcrawler_spark.operators.lsh import (
    _pairs_from_unified,
    _verified_edges,
    bucket_rows,
    build_edges,
    unified_capped_buckets,
)


@dataclass(frozen=True)
class DedupState:
    """Persisted-stage view of an already-deduped corpus.

    All members are stage outputs (parquet/Iceberg tables at scale; plain
    DataFrames in tests): ``sigs`` the signature table, ``buckets`` the
    capped unified bucket table, ``assignments`` (doc_id, cluster_id), and
    ``dropped_anchor_keys`` (key) — the anchor keys whose corpus-wide
    bucket exceeded the drop cap. The last table is essential for
    exactness, not an optimization: a boilerplate shingle shared by 10^6
    old docs has NO rows in the capped bucket table, so without the
    drop-list a new batch carrying that shingle would see an innocently
    small batch-local bucket, count it as a kept anchor, inflate the
    tier-1 containment denominator for its docs, and MISS borderline true
    pairs a full recompute finds (observed: 51 of 19,159 new-side pairs at
    1M docs before this table existed). It is small by construction —
    boilerplate keys are the heavy tail, ~3% of keys even on the
    pathological 50%-boilerplate stress corpus."""

    sigs: DataFrame
    buckets: DataFrame
    assignments: DataFrame
    dropped_anchor_keys: DataFrame | None = None
    # per-doc kept-anchor counts (doc_id, n_kept): the tier-1 denominator,
    # precomputed so an increment derives denominators with an O(touched)
    # delta instead of re-aggregating the whole bucket table (the 10^12-doc
    # shape; incremental_edges falls back to the full aggregation when the
    # table is absent). Measured A/B at 1M docs / 5% batch
    # (BENCH/incremental.json): both paths exact; the delta path's extra
    # joins cost more (93 s) than the one-pass aggregation they avoid
    # (81 s) because a 5% batch touches most keys — it pays off only when
    # |touched keys| << |corpus keys| (tiny daily batches on huge corpora)
    kept_anchor_counts: DataFrame | None = None


def build_dedup_state(
    docs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG, sigs: DataFrame | None = None
) -> DedupState:
    """Full batch pass over an existing corpus, returning the stage outputs
    an increment needs. ``sigs`` may be supplied when the signature stage is
    already materialized (the usual case for a resumed pipeline)."""
    from webcrawler_spark.operators.signatures import compute_signatures

    if sigs is None:
        sigs = compute_signatures(docs, cfg)
    sigs = sigs.persist()
    edges = build_edges(sigs, cfg, docs=docs)
    assignments = assign_clusters(docs, edges).select("doc_id", "cluster_id")
    dropped = (
        sigs.select(F.explode("anchors").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > cfg.anchor_max_bucket)
        .select("key")
    )
    buckets = unified_capped_buckets(sigs, cfg)
    kept = (
        buckets.filter(F.col("gen") == "anchor")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )
    return DedupState(
        sigs=sigs,
        buckets=buckets,
        assignments=assignments,
        dropped_anchor_keys=dropped,
        kept_anchor_counts=kept,
    )


def _touched_recap(
    state: DedupState,
    new_sigs: DataFrame,
    cfg: DedupConfig,
    persisted_out: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared bucket re-decision for an increment: (new_buckets, touched,
    old_touched, combined, capped). ``capped`` carries the combined-cap
    verdict over exactly the keys the batch touches; keys the original
    corpus dropped as boilerplate are excluded from the batch's rows first
    (DedupState docstring).

    Round 6: the tuple is also the unit of WORK SHARING for a chained
    increment — ``incremental_edges`` and ``advance_state`` both consume
    the identical recap, so callers running edges-then-advance for one
    batch compute it ONCE (pass the tuple through their ``recap``
    parameter) instead of paying the touched-keys shuffles and windows
    twice. ``persisted_out`` collects the internally persisted
    intermediates (new_buckets, capped) so long-running chained jobs can
    unpersist them once the batch's outputs are materialized.

    The batch's bucket rows enter UNCAPPED (lsh.bucket_rows): a batch-local
    cap would be wrong twice over — an anchor key that is boilerplate
    WITHIN the batch would vanish from ``touched`` (so stale state rows for
    it would survive an advance_state and its old rows would keep wrong
    kept-counts), and a batch-locally-truncated LSH bucket could exclude a
    doc that belongs in the combined top-cap. The combined window below is
    the only cap that matters."""
    new_buckets = bucket_rows(new_sigs, cfg)
    if state.dropped_anchor_keys is not None:
        dropped = state.dropped_anchor_keys.select(
            F.lit("anchor").alias("gen"), F.col("key")
        )
        new_buckets = new_buckets.join(dropped, ["gen", "key"], "left_anti")
    else:
        # ADVICE r5: a state without the drop-list silently reintroduces
        # the documented recall loss (51/19,159 pairs at 1M) — degrade
        # LOUDLY so a parquet round-trip that omitted the table is caught
        import warnings

        warnings.warn(
            "DedupState.dropped_anchor_keys is None: incremental recall "
            "may silently degrade on boilerplate-heavy corpora (see "
            "DedupState docstring); build states with build_dedup_state "
            "or persist the dropped-keys table.",
            stacklevel=3,
        )
    new_buckets = new_buckets.persist()
    if persisted_out is not None:
        persisted_out.append(new_buckets)
    touched = new_buckets.select("gen", "key").distinct()
    old_touched = state.buckets.join(touched, ["gen", "key"])
    # ONE explicit exchange before the window: the union's children carry
    # incompatible partitioning claims (a join output vs a raw explode
    # lineage), and caching a window built straight on that union freezes
    # an AQE-coalesced PartitioningCollection that later joins treat as
    # co-partitioned — at 1M this dies with "PartitioningCollection
    # requires all of its partitionings have the same numPartitions" /
    # "Can't zip RDDs with unequal numbers of partitions". The explicit
    # hash repartition gives the cached window a single clean partitioning.
    combined = old_touched.unionByName(new_buckets).repartition("gen", "key")

    wo = Window.partitionBy("gen", "key").orderBy("doc_id")
    wc = Window.partitionBy("gen", "key")
    capped = (
        combined.withColumn("rn", F.row_number().over(wo))
        .withColumn("sz", F.count("*").over(wc))
        .filter(
            F.when(F.col("gen") == "anchor", F.col("sz") <= cfg.anchor_max_bucket)
            .otherwise(F.col("rn") <= cfg.max_bucket_size)
        )
        .select("gen", "key", "doc_id")
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(capped)
    return new_buckets, touched, old_touched, combined, capped


def _kept_counts_delta(
    state: DedupState,
    old_touched: DataFrame,
    capped: DataFrame,
    new_ids: DataFrame,
) -> DataFrame:
    """Per-doc kept-anchor counts (doc_id, n_kept) over old + new docs as an
    O(touched) delta on ``state.kept_anchor_counts``: an old doc's count
    changes only by the touched-key rows it LOSES to the re-decision (keys
    pushed over the drop cap by new members); a new doc's count is exactly
    its surviving capped rows."""
    capped_anchor = capped.filter(F.col("gen") == "anchor")
    lost = (
        old_touched.filter(F.col("gen") == "anchor")
        .join(capped_anchor, ["gen", "key", "doc_id"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_lost"))
    )
    old_counts = (
        state.kept_anchor_counts.join(lost, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_kept") - F.coalesce("n_lost", F.lit(0))).alias("n_kept"),
        )
        .filter(F.col("n_kept") > 0)
    )
    new_counts = (
        capped_anchor.join(new_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )
    return old_counts.unionByName(new_counts)


def incremental_edges(
    state: DedupState,
    new_sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    docs: DataFrame | None = None,
    recap: tuple | None = None,
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Edges with >= 1 new-batch side: exact / near / containment /
    (cfg-gated) simhash / substring kinds through the batch path's own
    verify tail (``lsh._verified_edges``). ``docs`` (doc_id, text over
    old + new) enables the substring pass, exactly as in ``build_edges``.

    Scale shape: ``touched`` keys are bounded by |batch| x keys-per-doc;
    every window/groupBy below runs over touched keys only. The one
    corpus-sized input is the by-key fetch of old bucket rows — a join
    against a key-partitioned stage table (big side stays put; at 10^12
    docs the per-doc kept-anchor aggregate is itself a persisted stage
    column, refreshed with the same touched-keys delta)."""
    # re-decide the cap policies over the COMBINED membership of touched
    # keys (same two windows as unified_capped_buckets): anchor buckets
    # whose old+new size exceeds the drop cap vanish for everyone, exactly
    # as a full recompute would decide. ``recap`` (round 6) lets a caller
    # that also calls advance_state for the same batch share ONE recap.
    if recap is None:
        recap = _touched_recap(state, new_sigs, cfg, persisted_out)
    new_buckets, touched, old_touched, combined, capped = recap

    # candidate pairs over touched keys, then drop old-old pairs (already
    # resolved in state.assignments — re-verifying them is pure waste)
    new_ids = new_sigs.select("doc_id").distinct()
    na = new_ids.select(F.col("doc_id").alias("a")).withColumn("a_new", F.lit(1))
    nb = new_ids.select(F.col("doc_id").alias("b")).withColumn("b_new", F.lit(1))
    cand = (
        _pairs_from_unified(capped)
        .join(na, "a", "left")
        .join(nb, "b", "left")
        .filter(F.col("a_new").isNotNull() | F.col("b_new").isNotNull())
        .select("gen", "a", "b", "n_shared")
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(cand)

    all_sigs = state.sigs.unionByName(new_sigs)

    # tier-1 kept-anchor denominators, combined-drop semantics: rows in
    # untouched keys keep their recorded survival (their buckets gained no
    # members), rows in touched keys take the re-decided verdict above.
    if state.kept_anchor_counts is not None:
        kept_counts = _kept_counts_delta(state, old_touched, capped, new_ids)
    else:
        # legacy path (no precomputed aggregate): one O(corpus) pass over
        # the state bucket table
        untouched_anchor = state.buckets.filter(F.col("gen") == "anchor").join(
            touched, ["gen", "key"], "left_anti"
        )
        kept_rows = untouched_anchor.select("doc_id").unionByName(
            capped.filter(F.col("gen") == "anchor").select("doc_id")
        )
        kept_counts = kept_rows.groupBy("doc_id").agg(
            F.count("*").alias("n_kept")
        )
    # bound the counts table to docs that actually appear in anchor pairs —
    # tier-1 (and its n_chars fetch) then touch O(candidate docs), not
    # every doc in the corpus
    anchor_pairs = cand.filter(F.col("gen") == "anchor")
    cand_ids = (
        anchor_pairs.select(F.col("a").alias("doc_id"))
        .unionByName(anchor_pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    kept_counts = kept_counts.join(cand_ids, "doc_id", "left_semi")

    # exact (sha256) edges: new docs against the whole corpus (old + new) —
    # a scalar hash join, never raw text
    sha_new = new_sigs.select("sha256", F.col("doc_id").alias("nid"))
    sha_all = all_sigs.select("sha256", F.col("doc_id").alias("oid"))
    exact = (
        sha_new.join(sha_all, "sha256")
        .filter(F.col("nid") != F.col("oid"))
        .select(
            F.least("nid", "oid").alias("a"),
            F.greatest("nid", "oid").alias("b"),
            F.lit("exact").alias("kind"),
        )
        .distinct()
    )
    return _verified_edges(
        all_sigs, cand, kept_counts, exact, cfg, docs, persisted_out
    )


def incremental_assign(
    state: DedupState, all_docs: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id) over old + new docs: union-find over the new
    edges SEEDED with the existing components (as root->member star edges,
    which preserve old connectivity without re-deriving old-vs-old edges).
    Identical to a full recompute's assignment whenever the incremental
    edge set covers every true pair with a new side (module doc)."""
    seed = (
        state.assignments.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("cluster_id").alias("a"), F.col("doc_id").alias("b"))
    )
    # one explicit exchange normalizes the two sides' partitioning: the
    # seed side is a stage-table scan (file-split partition count) and the
    # new edges carry the session's shuffle partitioning — localCheckpoint
    # inside union-find chokes on such mixed-partition unions at scale
    # (Spark "Can't zip RDDs with unequal numbers of partitions" under AQE)
    edges = seed.unionByName(new_edges.select("a", "b")).repartition("a")
    return assign_clusters(all_docs, edges).select("doc_id", "cluster_id")


def incremental_dedup(
    state: DedupState,
    new_docs: DataFrame,
    all_docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Convenience end-to-end increment: signatures for the new batch only,
    incremental edges, seeded assignment. ``all_docs`` = old + new (doc_id,
    text) — used for the substring pass and the assignment's doc universe.
    ``persisted_out`` (round 6): collects every internally persisted
    intermediate so chained callers can unpersist after materializing."""
    from webcrawler_spark.operators.signatures import compute_signatures

    new_sigs = compute_signatures(new_docs, cfg).persist()
    if persisted_out is not None:
        persisted_out.append(new_sigs)
    edges = incremental_edges(
        state, new_sigs, cfg, docs=all_docs, persisted_out=persisted_out
    )
    return incremental_assign(state, all_docs, edges)


def advance_state(
    state: DedupState,
    new_sigs: DataFrame,
    new_assignments: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    recap: tuple | None = None,
    persisted_out: list[DataFrame] | None = None,
) -> DedupState:
    """Fold an absorbed batch INTO the state, so increments chain: the
    returned state equals ``build_dedup_state`` over the concatenated
    corpus (pytest-pinned through a chained double increment), but is
    derived with touched-keys work only:

    - buckets: untouched keys keep their rows; touched keys take the
      combined-cap re-decision (LSH: top-cap of state-top-cap ∪ news =
      global top-cap; anchors: combined-size drop);
    - dropped anchor keys: previous set ∪ touched keys pushed over the cap
      by the batch (a dropped key never returns — sizes only grow);
    - kept-anchor counts: previous counts minus touched-key rows lost to
      the re-decision, plus the batch's surviving rows;
    - assignments: the increment's output (callers pass what
      ``incremental_assign``/``incremental_dedup`` returned).

    Round 6 (ADVICE): pass the ``recap`` tuple from the batch's
    ``incremental_edges`` call (or a direct ``_touched_recap``) so the
    edges-then-advance sequence every chained increment runs pays the
    touched-keys re-decision ONCE; without it this function recomputes the
    identical recap (same shuffles and windows, plus a second persisted
    copy of new_buckets/capped).
    """
    if recap is None:
        recap = _touched_recap(state, new_sigs, cfg, persisted_out)
    new_buckets, touched, old_touched, combined, capped = recap
    buckets_next = state.buckets.join(
        touched, ["gen", "key"], "left_anti"
    ).unionByName(capped)

    dropped_next = None
    if state.dropped_anchor_keys is not None:
        newly_over = (
            combined.filter(F.col("gen") == "anchor")
            .groupBy("key")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > cfg.anchor_max_bucket)
            .select("key")
        )
        dropped_next = (
            state.dropped_anchor_keys.unionByName(newly_over).distinct()
        )

    kept_next = None
    if state.kept_anchor_counts is not None:
        new_ids = new_sigs.select("doc_id").distinct()
        kept_next = _kept_counts_delta(state, old_touched, capped, new_ids)

    return DedupState(
        sigs=state.sigs.unionByName(new_sigs),
        buckets=buckets_next,
        assignments=new_assignments,
        dropped_anchor_keys=dropped_next,
        kept_anchor_counts=kept_next,
    )
