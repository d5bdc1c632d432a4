"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Each workload is a ``documents.parquet`` table (doc_id, text, n_chars) in
its own directory, the same docs as HTML pages in ``web_pages.parquet``
(doc_id, url, warc_ts, html, lang; the input of the extract layer), plus a
``meta.json`` holding the doc and page counts, the input bytes, the planted
truth pairs and the cluster assignment of the sequential NumPy oracle
(``operators.oracle.run_oracle``) on the same docs. Everything
here runs in the calling process (no Spark, no worker pool) and before any
timed region. ``meta.json`` is written last, so a directory without it is an
interrupted build and is regenerated.

The cache key carries a digest of the source files the generators and the
oracle depend on, so an edit to either never reuses stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sources whose behaviour decides the generated docs or the oracle clusters
_DIGEST_SOURCES = (
    "webcrawler_spark/config.py",
    "webcrawler_spark/functions/textnorm.py",
    "webcrawler_spark/operators/hashing.py",
    "webcrawler_spark/operators/oracle.py",
    "webcrawler_spark/sources/corpus.py",
    "perfbench/inputs.py",
)

# the 30-word vocabulary of the contract `documents` tables; the tables'
# planted copies append the 31st word, "dup" (measured with shape.py)
_SHORT_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# share of docs that are an earlier doc plus " dup": 250 of the 5,000 rows
# of the sf0.1 table
_SHORT_COPY_RATE = 0.05


@dataclass(frozen=True)
class Inputs:
    docs_dir: str  # holds documents.parquet, the registry's table layout
    n_docs: int
    input_bytes: int
    n_pages: int  # web_pages.parquet beside it: the same docs as HTML pages
    pages_bytes: int
    truth_pairs: list[tuple[int, int]]
    oracle_clusters: dict[int, int]


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for rel in _DIGEST_SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def short_docs(
    n_docs: int, seed: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """Docs shaped like the contract ``documents`` table: 10-100 tokens
    drawn uniformly from its vocabulary, and about 5% of docs a copy of an
    earlier one with " dup" appended (Jaccard of the 5-shingle sets >= 0.86,
    and the base is a substring of the copy). Two copies of one base are an
    exact pair. Ids are shuffled, so a copy lands far from its base.
    Returns (docs, planted pairs)."""
    rng = np.random.default_rng(seed)
    words = _SHORT_WORDS
    texts: list[str] = []
    bases: list[int] = []
    truth: list[tuple[int, int]] = []
    while len(texts) < n_docs:
        if bases and rng.random() < _SHORT_COPY_RATE:
            src = bases[int(rng.integers(0, len(bases)))]
            truth.append((src, len(texts)))
            texts.append(texts[src] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            bases.append(len(texts))
            texts.append(" ".join(words[i] for i in rng.integers(0, len(words), n_tok)))
    ids = rng.permutation(n_docs)
    docs = sorted((int(ids[i]), t) for i, t in enumerate(texts))
    return docs, [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in truth]


def planted_docs(
    n_pages: int, seed: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int]], list[dict]]:
    """The English docs of ``generate_corpus(n_pages, seed)`` (what the F1
    language gate keeps), its planted family pairs and its pages."""
    from webcrawler_spark.sources.corpus import english_docs, generate_corpus

    corpus = generate_corpus(n_pages, seed=seed)
    return (
        english_docs(corpus),
        [(a, b) for a, b, _ in corpus.truth_pairs],
        corpus.rows,
    )


def short_pages(docs: list[tuple[int, str]]) -> list[dict]:
    """Each short doc as a minimal English page on one of 20 domains (the
    contract table's 20 sources). The page has no title, since extraction
    counts the title as visible text; so it yields the doc's text as is."""
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    return [
        {
            "doc_id": d,
            "url": f"https://src{d % 20:02d}.example/d/{d}",
            "warc_ts": ts,
            "html": (
                '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
                f"</head><body><p>{t}</p></body></html>"
            ).encode(),
            "lang": "en",
        }
        for d, t in docs
    ]


def _short(n_docs: int, seed: int):
    docs, truth = short_docs(n_docs, seed)
    return docs, truth, short_pages(docs)


GENERATORS = {"short": _short, "planted": planted_docs}


def _write_pages(rows: list[dict], path: str) -> None:
    """The ``web_pages`` layout ``corpus.write_parquet`` writes, in small
    row groups so the extract scan splits."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "url": pa.array([r["url"] for r in rows], pa.string()),
                "warc_ts": pa.array(
                    [r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array([r["html"] for r in rows], pa.binary()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
            }
        ),
        path,
        row_group_size=2000,
    )


def prepare(root: str, cache_dir: str, name: str, kind: str, size: int,
            seed: int) -> Inputs:
    key = f"{name}-n{size}-s{seed}-{source_digest(root)}"
    out = os.path.join(cache_dir, key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        from webcrawler_spark.operators.oracle import run_oracle

        docs, truth, pages = GENERATORS[kind](size, seed)
        clusters = run_oracle(docs).clusters
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        path = os.path.join(out, "documents.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                    "text": pa.array([t for _, t in docs], pa.string()),
                    "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
                }
            ),
            path,
        )
        _write_pages(pages, os.path.join(out, "web_pages.parquet"))
        meta = {
            "n_docs": len(docs),
            "n_pages": len(pages),
            "input_bytes": os.path.getsize(path),
            "pages_bytes": os.path.getsize(os.path.join(out, "web_pages.parquet")),
            "truth_pairs": truth,
            "oracle_clusters": sorted(clusters.items()),
        }
        with open(meta_path + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    return Inputs(
        docs_dir=out,
        n_docs=meta["n_docs"],
        input_bytes=meta["input_bytes"],
        n_pages=meta["n_pages"],
        pages_bytes=meta["pages_bytes"],
        truth_pairs=[tuple(p) for p in meta["truth_pairs"]],
        oracle_clusters={int(d): int(c) for d, c in meta["oracle_clusters"]},
    )
