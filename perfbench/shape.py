"""Shape of a ``documents`` table, to compare a generated workload with the
table it stands in for.

    python3 perfbench/shape.py path/to/documents.parquet [more.parquet ...]
    python3 perfbench/shape.py --workload flagship_short --seed 1

Prints, per table: the row count, the token-count deciles, the vocabulary
size, and the pairs and clustered docs the sequential NumPy oracle
(``operators.oracle.run_oracle``) finds, per 1,000 docs and per kind. All
rows are measured, as the dedup query reads all of them.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shape(docs: list[tuple[int, str]]) -> dict[str, object]:
    from webcrawler_spark.operators.oracle import run_oracle

    res = run_oracle(docs)
    toks = [len(t.split()) for _, t in docs]
    per_k = 1000.0 / len(docs)
    sizes: dict[int, int] = {}
    for c in res.clusters.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {
        "docs": len(docs),
        "tokens_min": min(toks),
        "tokens_deciles": [round(q) for q in statistics.quantiles(toks, n=10)],
        "tokens_max": max(toks),
        "chars_median": statistics.median(len(t) for _, t in docs),
        "vocabulary": len({w for _, t in docs for w in t.split()}),
        "exact_pairs_per_1k": len(res.exact_pairs) * per_k,
        "near_pairs_per_1k": len(res.near_dup_pairs) * per_k,
        "containment_pairs_per_1k": len(res.containment_pairs) * per_k,
        "substring_pairs_per_1k": len(res.substring_pairs) * per_k,
        "all_pairs_per_1k": len(res.all_pairs) * per_k,
        "clustered_docs_frac": sum(n for n in sizes.values() if n > 1) / len(docs),
        "largest_cluster": max(sizes.values()),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tables", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    named: list[tuple[str, list[tuple[int, str]]]] = []
    for path in args.tables:
        t = pq.read_table(path).to_pydict()
        named.append((path, list(zip(t["doc_id"], t["text"]))))
    if args.workload:
        import inputs
        import run

        kind, size = run.WORKLOADS[args.workload]
        docs = inputs.GENERATORS[kind](size, args.seed)[0]
        named.append((f"{args.workload} seed {args.seed}", docs))
    for name, docs in named:
        print(name)
        for k, v in shape(docs).items():
            print(f"  {k:<26} {v if not isinstance(v, float) else round(v, 3)}")


if __name__ == "__main__":
    main()
