"""Dedup benchmark: seeded workloads through the engine's flagship
``dedup_clusters`` path on local[4], checked against the NumPy oracle.

    python3 perfbench/run.py --workload flagship_short --seed 1 \\
        --seconds 10 --trace 0

One run is a closed loop with one client: a fresh driver process starts a
session, runs the cold pass (the first in that JVM), one warm-up pass,
then warm passes one after another, each started when the previous one has
returned, until ``--seconds`` have passed and at least four warm passes
ran. Every pass clears the clusters memo, recomputes the assignment of every
doc and collects it; the collected assignment must equal the oracle's doc
for doc.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` additionally
traces the cold pass and one more warm pass layer by layer (``probes``),
then traces the layers the query does not reach on the same docs
(``layer_probes``: extract, io, incremental), and prints the per-layer
metrics instead. Both print human-readable lines first and, as the last
line of stdout, one JSON object with the keys correct, attempted, failed
and metrics. The full record of a run (host
stamps, pass walls, spans) goes to ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import inputs
import spark_session
from probes import (
    StageReader, Tracer, TreeRssSampler, cpu_times, loadavg, reap, steal_frac,
)

ROOT = spark_session.ROOT
WORK = spark_session.WORK

# name -> (generator, size); BENCHMARK.json says why each exists
WORKLOADS = {
    "flagship_short": ("short", 5000),
    "planted_text": ("planted", 200),
}
# passes in one JVM keep getting faster after the cold one (JIT), steeply
# for the first; these are run and checked but not timed
WARMUP_PASSES = 1
MIN_WARM_PASSES = 4


def _assignment(rows) -> dict[int, int]:
    return {int(r["doc_id"]): int(r["cluster_id"]) for r in rows}


def _mismatches(got: dict[int, int], want: dict[int, int]) -> int:
    return sum(got.get(d) != c for d, c in want.items()) + len(
        set(got) - set(want)
    )


def dedup_pass(spark, docs_dir: str):
    from webcrawler_spark.plans.queries import clear_clusters_cache, q_dedup_clusters

    clear_clusters_cache()
    return q_dedup_clusters(spark, docs_dir).collect()


def traced_pass(spark, docs_dir: str, tracer: Tracer):
    """``q_dedup_clusters`` with each layer's output materialized inside
    its own span: the signature cache, build_edges' persisted sub-phases
    (capped buckets, candidate pairs, tier-1 survivors, in that order), the
    edges, then union-find. Same calls and arguments as the query; the
    edges are persisted here only, and the caller unpersists them.
    Returns (rows, sigs, docs, edges, held)."""
    from webcrawler_spark.config import DEFAULT_CONFIG
    from webcrawler_spark.operators.components import assign_clusters
    from webcrawler_spark.operators.lsh import build_edges
    from webcrawler_spark.plans import queries as Q

    Q.clear_clusters_cache()
    with tracer.span("queries.q_dedup_clusters"):
        docs = Q.load(spark, docs_dir, "documents").select("doc_id", "text")
        with tracer.span("signatures.compute_signatures") as sp:
            sigs = Q._doc_signatures(spark, docs_dir)
            sp["rows"] = sigs.count()
        with tracer.span("lsh.build_edges"):
            held: list = []
            edges = build_edges(
                sigs, DEFAULT_CONFIG, docs=docs, persisted_out=held
            ).persist()
            capped, cand, tier1 = held
            for name, df in (("lsh.buckets", capped), ("lsh.candidates", cand),
                             ("lsh.tier1", tier1), ("lsh.verify", edges)):
                with tracer.span(name) as sp:
                    sp["rows"] = df.count()
        with tracer.span("components.assign_clusters"):
            rows = assign_clusters(docs, edges).select(
                "doc_id", "cluster_id"
            ).collect()
    return rows, sigs, docs, edges, held


def funnel(tracer: Tracer, sigs, docs, edges, held) -> dict[str, float]:
    """Counts for the traced warm pass, taken after its root span closed so
    they add nothing to it. The substring probe re-runs the verify core on
    the length-gated tier-1 survivors, the pairs build_edges hands it."""
    from pyspark.sql import functions as F

    from webcrawler_spark.config import DEFAULT_CONFIG as cfg
    from webcrawler_spark.operators.suffix import verify_substring_pairs

    _, cand, tier1 = held
    kinds = dict(edges.groupBy("kind").count().collect())
    gens = dict(cand.groupBy("gen").count().collect())
    jac_cand = (
        cand.filter(F.col("gen") == "lsh").select("a", "b")
        .unionByName(tier1.select("a", "b")).distinct().count()
    )
    verified = (
        edges.filter(F.col("kind").isin("near", "containment"))
        .select("a", "b").distinct().count()
    )
    dropped = (
        sigs.select(F.explode("anchors").alias("key")).groupBy("key").count()
        .filter(F.col("count") > cfg.anchor_max_bucket).count()
    )
    anchors_per_doc = sigs.agg(F.avg(F.size("anchors"))).first()[0]
    with tracer.span("suffix.verify_substring_pairs") as sp:
        gated = tier1.filter(
            (F.col("len_a") != F.col("len_b")) & (F.least("len_a", "len_b") > 0)
        ).select("a", "b")
        row = verify_substring_pairs(gated, docs).agg(
            F.count("*"), F.sum(F.col("is_substring").cast("int"))
        ).first()
    sp["pairs_in"], sp["pairs_true"] = row[0], row[1] or 0
    return {
        "edges.exact": kinds.get("exact", 0),
        "edges.near": kinds.get("near", 0),
        "edges.containment": kinds.get("containment", 0),
        "edges.substring": kinds.get("substring", 0),
        "lsh.cand_pairs.lsh": gens.get("lsh", 0),
        "lsh.cand_pairs.anchor": gens.get("anchor", 0),
        "lsh.anchor_keys_dropped": dropped,
        "lsh.verify_yield": verified / max(1, jac_cand),
        "signatures.anchors_per_doc": float(anchors_per_doc or 0.0),
        "suffix.verify_s": sp["wall_s"],
        "suffix.pairs_in": sp["pairs_in"],
        "suffix.pairs_true": sp["pairs_true"],
    }


def layer_probes(spark, inp, tracer: Tracer, docs, edges) -> tuple[dict, dict]:
    """The layers the dedup query does not reach, traced on the same docs
    after the traced warm pass: extraction of the workload's pages, stage
    commits through ``io.Storage``, and a 5% increment (``doc_id % 20 ==
    7``) absorbed into state built and persisted from the other 95%.
    Returns (metrics, mismatches): extracted text against the docs table,
    and the increment's assignment against the oracle's."""
    from pyspark.sql import functions as F

    from webcrawler_spark.config import DEFAULT_CONFIG as cfg
    from webcrawler_spark.extract.spark_extract import extract_pages, good_pages
    from webcrawler_spark.io import Storage
    from webcrawler_spark.operators import incremental as I
    from webcrawler_spark.operators.signatures import compute_signatures
    from webcrawler_spark.plans.pipeline import salted_repartition_by_domain

    out: dict[str, float] = {}
    bad: dict[str, int] = {}
    warehouse = os.path.join(WORK, "warehouse-probe")
    shutil.rmtree(warehouse, ignore_errors=True)

    web = spark.read.parquet(os.path.join(inp.docs_dir, "web_pages.parquet"))
    with tracer.span("extract.extract_pages") as sp:
        pages = salted_repartition_by_domain(
            extract_pages(web, passthrough=("doc_id",)), cfg,
            stats_from=web.select("url"),
        ).persist()
        sp["rows"] = pages.count()
    per_part = [r[1] for r in pages.groupBy(F.spark_partition_id()).count().collect()]
    got = dict(good_pages(pages).select("doc_id", "text").collect())
    want = dict(docs.collect())
    bad["extract"] = sum(got.get(d) != t for d, t in want.items()) + len(
        set(got) - set(want)
    )
    out.update({
        "extract.self_s": tracer.self_s(sp),
        "extract.busy_frac": sp["busy_frac"],
        "extract.rows_out": sp["rows"],
        "extract.error_rows": sp["rows"] - len(got),
        "extract.shuffle_write_mb": sp["shuffle_write_mb"],
        "extract.partition_skew": max(per_part) / statistics.mean(per_part),
    })

    storage = Storage(spark=spark, warehouse=warehouse,
                      config_hash=cfg.config_hash(), run_id="perfbench")
    for stage, df in (("extract", pages), ("edges", edges)):
        with tracer.span(f"io.commit_stage.{stage}") as sp:
            storage.commit_stage(stage, df)
        out[f"io.commit_s.{stage}"] = sp["wall_s"]
    pages.unpersist()
    written = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(os.path.join(warehouse, "_stages"))
        for f in files
    )
    out["io.bytes_written_mb"] = written / (1 << 20)
    out["io.stored_per_input"] = written / inp.pages_bytes

    new_mask = F.col("doc_id") % 20 == 7
    old_docs, new_docs = docs.filter(~new_mask), docs.filter(new_mask)
    state_dir = os.path.join(warehouse, "state")
    tables = ("sigs", "buckets", "assignments", "dropped_anchor_keys",
              "kept_anchor_counts")
    with tracer.span("incremental.build_dedup_state") as sp:
        state = I.build_dedup_state(old_docs, cfg)
        for name in tables:
            getattr(state, name).write.parquet(os.path.join(state_dir, name))
        state.sigs.unpersist()
    out["incremental.state_build_s"] = sp["wall_s"]
    state = I.DedupState(**{
        name: spark.read.parquet(os.path.join(state_dir, name)) for name in tables
    })
    held: list = []
    with tracer.span("incremental.incremental_dedup"):
        with tracer.span("incremental.signatures") as sp:
            new_sigs = compute_signatures(new_docs, cfg).persist()
            held.append(new_sigs)
            new_sigs.count()
        out["incremental.signatures_s"] = sp["wall_s"]
        with tracer.span("incremental.edges") as sp:
            recap = I._touched_recap(state, new_sigs, cfg, held)
            new_edges = I.incremental_edges(
                state, new_sigs, cfg, docs=docs, recap=recap, persisted_out=held
            ).persist()
            held.append(new_edges)
            new_edges.count()
        out["incremental.edges_s"] = sp["wall_s"]
        with tracer.span("incremental.assign") as sp:
            assigned = I.incremental_assign(state, docs, new_edges).persist()
            held.append(assigned)
            rows = assigned.collect()
        out["incremental.assign_s"] = sp["wall_s"]
    bad["increment"] = _mismatches(_assignment(rows), inp.oracle_clusters)
    with tracer.span("incremental.advance_state") as sp:
        nxt = I.advance_state(state, new_sigs, assigned, cfg, recap=recap)
        for name in tables:
            getattr(nxt, name).write.parquet(
                os.path.join(warehouse, "state_next", name)
            )
    out["incremental.advance_s"] = sp["wall_s"]
    out["incremental.touched_keys"] = recap[1].count()
    for df in held:
        df.unpersist()
    return out, bad


def layer_metrics(cold: Tracer, warm: Tracer) -> dict[str, float]:
    sig, lsh = warm.get("signatures.compute_signatures"), warm.get("lsh.build_edges")
    comp = warm.get("components.assign_clusters")
    root = warm.get("queries.q_dedup_clusters")
    return {
        "signatures.self_s": warm.self_s(sig),
        "signatures.busy_frac": sig["busy_frac"],
        "signatures.spill_mb": sig["spill_mb"],
        "lsh.buckets_s": warm.get("lsh.buckets")["wall_s"],
        "lsh.bucket_rows": warm.get("lsh.buckets")["rows"],
        "lsh.candidates_s": warm.get("lsh.candidates")["wall_s"],
        "lsh.tier1_s": warm.get("lsh.tier1")["wall_s"],
        "lsh.tier1_pairs": warm.get("lsh.tier1")["rows"],
        "lsh.verify_s": warm.get("lsh.verify")["wall_s"],
        "lsh.shuffle_write_mb": lsh["shuffle_write_mb"],
        "lsh.spill_mb": lsh["spill_mb"],
        "lsh.tasks": lsh["tasks"],
        "lsh.busy_frac": lsh["busy_frac"],
        "components.self_s": warm.self_s(comp),
        "components.jobs": comp["jobs"],
        "components.edges_in": warm.get("lsh.verify")["rows"],
        "components.busy_frac": comp["busy_frac"],
        "trace.root_self_frac": warm.self_s(root) / root["wall_s"],
        "cold.signatures.self_s": cold.self_s(cold.get("signatures.compute_signatures")),
        "cold.lsh.wall_s": cold.get("lsh.build_edges")["wall_s"],
        "cold.components.self_s": cold.self_s(cold.get("components.assign_clusters")),
        "cold.queries.self_s": cold.self_s(cold.get("queries.q_dedup_clusters")),
    }


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDDs, their in-memory + on-disk MB) in the session."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(
        (i.memSize() + i.diskSize()) for i in infos
    ) / (1 << 20)


def host_stamps() -> dict:
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True,
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "source_digest": inputs.source_digest(ROOT),
    }


def run(args) -> dict:
    kind, size = WORKLOADS[args.workload]
    load_before, cpu_before = loadavg(), cpu_times()
    t_start = time.perf_counter()
    inp = inputs.prepare(
        ROOT, os.path.join(WORK, "inputs"), args.workload, kind, size, args.seed
    )
    phases = {"inputs_s": time.perf_counter() - t_start}
    passes: list[dict] = []

    def check(label: str, wall: float | None, rows) -> dict[int, int]:
        got = _assignment(rows)
        passes.append({"pass": label, "wall_s": wall,
                       "mismatch": _mismatches(got, inp.oracle_clusters)})
        return got

    def timed(label: str):
        t0 = time.perf_counter()
        try:
            rows = dedup_pass(spark, inp.docs_dir)
        except Exception as exc:  # a raising pass counts as failed
            passes.append({"pass": label, "wall_s": None, "error": repr(exc)})
            print(f"pass {label} raised: {exc!r}", file=sys.stderr)
            return None
        return check(label, time.perf_counter() - t0, rows)

    t0 = time.perf_counter()
    spark = spark_session.start()
    setup_s = time.perf_counter() - t0
    out: dict = {"layers": {}}
    try:
        out["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        cores = spark.sparkContext.defaultParallelism
        rss = TreeRssSampler(os.getpid()).start()
        cold_tr = None
        if args.trace:
            cold_tr = Tracer(StageReader(spark), cores)
            t1 = time.perf_counter()
            rows, _, _, edges, _ = traced_pass(spark, inp.docs_dir, cold_tr)
            got = check("cold", time.perf_counter() - t1, rows)
            edges.unpersist()
        else:
            got = timed("cold")
        # the resident set up to the end of the cold pass, the one fixed
        # unit of work in a fresh JVM; over later passes it keeps growing,
        # to 2.4-3.3 GB depending on how the collector sizes the heap. The
        # sampler stops here so it adds no work to the timed warm passes.
        peak_rss_mb = rss.stop()
        after_cold = cache_state(spark)
        for i in range(WARMUP_PASSES):
            got = timed(f"warmup{i}")
            if got is None:
                break
        t_warm = time.perf_counter()
        n_warm = 0
        while got is not None and (
            n_warm < MIN_WARM_PASSES
            or time.perf_counter() - t_warm < args.seconds
        ):
            got = timed(f"warm{n_warm}")
            n_warm += 1
        persisted, cached_mb = cache_state(spark)
        if args.trace and got is not None:
            warm_tr = Tracer(StageReader(spark), cores)
            rows, sigs, docs, edges, held = traced_pass(
                spark, inp.docs_dir, warm_tr
            )
            check("traced", warm_tr.get("queries.q_dedup_clusters")["wall_s"], rows)
            out["layers"] = {
                "session.self_s": setup_s,
                **layer_metrics(cold_tr, warm_tr),
                **funnel(warm_tr, sigs, docs, edges, held),
                "queries.persisted_rdds": persisted,
                "queries.persisted_rdds_growth": persisted - after_cold[0],
                "queries.cached_mb": cached_mb,
            }
            probed, bad = layer_probes(spark, inp, warm_tr, docs, edges)
            out["layers"].update(probed)
            passes.extend({"pass": k, "wall_s": None, "mismatch": n}
                          for k, n in bad.items())
            edges.unpersist()
            out["spans"] = {"cold": cold_tr.spans, "warm": warm_tr.spans}
        phases["passes_s"] = time.perf_counter() - t0 - setup_s
    finally:
        t_stop = time.perf_counter()
        spark_session.stop(spark)
        phases["stop_s"] = time.perf_counter() - t_stop

    walls = [p["wall_s"] for p in passes
             if p["pass"].startswith("warm") and not p["pass"].startswith("warmup")
             and p["wall_s"] is not None]
    ok = [p for p in passes if p.get("mismatch") == 0]
    last = got if got is not None else {}
    found = sum(
        last.get(a) is not None and last.get(a) == last.get(b)
        for a, b in inp.truth_pairs
    )
    warm_s = statistics.median(walls) if walls else float("nan")
    out.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        docs=inp.n_docs, input_bytes=inp.input_bytes,
        truth_pairs=len(inp.truth_pairs), passes=passes,
        phases=phases,
        load_before=load_before, load_after=loadavg(),
        steal_frac=steal_frac(cpu_before, cpu_times()), **host_stamps(),
        attempted=len(passes), failed=len(passes) - len(ok),
        oracle_mismatch=max((p.get("mismatch", 0) for p in passes), default=0),
        metrics={
            "setup_s": (setup_s, "s"),
            "cold_s": (passes[0]["wall_s"] if passes else None, "s"),
            "warm_s": (warm_s, "s"),
            "docs_per_s": (inp.n_docs / warm_s, "docs/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "pair_recall": (found / max(1, len(inp.truth_pairs)), "frac"),
        },
    )
    traced = [p["wall_s"] for p in passes if p["pass"] == "traced"]
    if traced:
        out["layers"]["trace.overhead_frac"] = traced[0] / warm_s - 1.0
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "webcrawler_spark")):
        sys.exit(f"perfbench: no webcrawler_spark package under {ROOT}")
    spark_session.prepare_env()

    out = run(args)
    reap(os.getpid())

    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(
        res_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed}: {out['docs']} docs, "
          f"{out['input_bytes']} input bytes, {out['truth_pairs']} planted pairs")
    print(f"host: nproc {out['nproc']}, load {out['load_before']} -> "
          f"{out['load_after']}, cpu steal {out['steal_frac']:.3f}, "
          f"pyspark {out['pyspark']}, java {out['java']}, "
          f"commit {out['git_commit']}, source {out['source_digest']}")
    print("passes: " + ", ".join(
        f"{p['pass']}={p['wall_s']:.3f}s" if p["wall_s"] is not None
        else f"{p['pass']}=raised" if "error" in p
        else f"{p['pass']} mismatch={p['mismatch']}" for p in out["passes"]))
    for name, (value, unit) in out["metrics"].items():
        print(f"{name:<16} {value} {unit}")
    print(f"{'oracle_mismatch':<16} {out['oracle_mismatch']} docs")
    print(f"{'failed_frac':<16} {out['failed'] / out['attempted']:.4f} frac")
    if args.trace:
        spans = out["spans"]["warm"]
        root = spans[0]
        tops = [s for s in spans if s["parent"] == root["idx"]]
        own = root["wall_s"] - sum(s["wall_s"] for s in tops)
        print("traced warm pass: " + " + ".join(
            f"{s['name']} {s['wall_s']:.3f}" for s in tops
        ) + f" + root self {own:.3f} = {root['wall_s']:.3f} s")
        for name, value in out["layers"].items():
            print(f"  {name:<32} {value:.4f}")
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in out["metrics"].items()}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))


def _unit(name: str) -> str:
    # the measure is the last part, or the one before a stage name
    # (io.commit_s.edges)
    parts = name.split(".")[1:]
    if any(p.endswith("_s") for p in parts):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_yield")):
        return "frac"
    if name.endswith(("_skew", "_per_input")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
