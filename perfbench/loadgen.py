"""Seeded load generator: corpora, ingest slices and search queries.

Everything here is a function of ``(seed, size)`` only, so two runs with the
same seed drive the engine with identical inputs.  Corpora come from the
engine's own fixture generator (``sources.fixtures``) and are cached as
parquet under the benchmark's work directory, keyed by seed and size;
queries are drawn from a corpus's text on each run.  Generating inputs is
the load generator's cost, never the engine's, and is excluded from every
metric.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

QUERY_BATCH = 16  # queries per batch
QUERY_WORDS = (2, 3)  # words per query, drawn from one document's text


def corpus_paths(work: str, n_docs: int, seed: int) -> dict[str, str]:
    """Parquet paths of the (n_docs, seed) corpus, written on first use."""
    from mediachain_indexer_spark.sources.fixtures import write_corpus

    return write_corpus(os.path.join(work, "corpus", f"n{n_docs}-s{seed}"), n_docs, seed)


def doc_id(i: int, n_docs: int) -> str:
    """The fixture generator's i-th doc id (zero-padded, so ids sort as ints)."""
    return f"d{i:0{max(6, len(str(n_docs)))}d}"


def id_range(lo: int, hi: int, n_docs: int) -> tuple[str, str]:
    """Inclusive doc_id bounds of positions [lo, hi)."""
    return doc_id(lo, n_docs), doc_id(hi - 1, n_docs)


def query_batches(
    paths: dict[str, str], n_docs: int, seed: int, ranges: list[tuple[int, int]]
) -> list[list[tuple[str, str]]]:
    """One batch of QUERY_BATCH (query_id, text) pairs per doc position range.

    Each query is a few words of one random document's text from its range,
    so the batch asks for the docs of that range.  Query ids are unique
    across batches."""
    tbl = pq.read_table(paths["spans_documents"], columns=["doc_id", "spans"])
    texts = {
        d: " ".join(s["text"] for s in spans if s["text"])
        for d, spans in zip(tbl.column("doc_id").to_pylist(), tbl.column("spans").to_pylist())
    }
    rng = random.Random(seed * 7919 + 1)
    batches = []
    for lo, hi in ranges:
        batch = []
        for j in range(QUERY_BATCH):
            words = []
            while len(words) < QUERY_WORDS[0]:
                words = texts[doc_id(rng.randrange(lo, hi), n_docs)].split()
            k = min(len(words), rng.randint(*QUERY_WORDS))
            batch.append((f"q{lo}_{j:02d}", " ".join(rng.sample(words, k))))
        batches.append(batch)
    return batches
