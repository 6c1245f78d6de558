"""Seeded input generators for the benchmark workloads.

Every stream is a pure function of ``(seed, stream name)``: the same seed
yields byte-identical texts and batches, a different seed yields different
ones. Texts are drawn over the vocabulary of the bundled ``documents``
table with that table's length range, so synthetic documents look like
the fixture's to every layer (tokenizer, embedder, dedup, KNN).
Streams are infinite iterators; a time-bounded workload consumes a prefix.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator

MODALITIES = ("text", "image", "audio")
DOC_WORDS = (10, 100)    # the fixture documents' length range
QUERY_WORDS = (5, 30)
INGEST_ID_BASE = 10_000_000  # far above every fixture / corpus doc_id
SEARCH_ID_BASE = 1_000_000


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{stream}")


def _text(rng: random.Random, vocab: list[str], lo_hi: tuple[int, int]) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(*lo_hi)))


def modality(doc_id: int) -> str:
    """The modality surrogate the repo's own ingest bench uses."""
    return MODALITIES[doc_id % 3]


def query_texts(seed: int, vocab: list[str],
                stream: str = "query") -> Iterator[str]:
    rng = _rng(seed, stream)
    while True:
        yield _text(rng, vocab, QUERY_WORDS)


def corpus_rows(seed: int, vocab: list[str], n: int) -> list[tuple]:
    """``n`` synthetic ``(doc_id, text, modality)`` rows for the search
    corpus, with ids from ``SEARCH_ID_BASE``."""
    rng = _rng(seed, "corpus")
    return [(SEARCH_ID_BASE + i, _text(rng, vocab, DOC_WORDS),
             modality(SEARCH_ID_BASE + i)) for i in range(n)]


def ingest_batches(seed: int, vocab: list[str],
                   batch_size: int) -> Iterator[list[tuple]]:
    """Micro-batches of new ``(doc_id, text, modality)`` rows: fresh doc
    ids and fresh seeded texts."""
    rng = _rng(seed, "ingest")
    ids = itertools.count(INGEST_ID_BASE)
    while True:
        batch = []
        for _ in range(batch_size):
            doc_id = next(ids)
            batch.append((doc_id, _text(rng, vocab, DOC_WORDS),
                          modality(doc_id)))
        yield batch
