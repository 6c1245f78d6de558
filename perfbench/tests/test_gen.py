"""The workload generators are pure functions of the seed."""

from __future__ import annotations

import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads  # noqa: E402

VOCAB = workloads.vocabulary(workloads.fixture_docs())
START = [t for _, t, _ in workloads.fixture_docs()]


def inputs(seed: int) -> bytes:
    """Every generated input of one run, serialized."""
    return json.dumps({
        "queries": list(itertools.islice(gen.query_texts(seed, VOCAB), 200)),
        "check": list(itertools.islice(
            gen.query_texts(seed, VOCAB, "check"), 16)),
        "corpus": gen.corpus_rows(seed, VOCAB, 500),
        "ingest": list(itertools.islice(
            gen.ingest_batches(seed, VOCAB, 50), 25)),
    }).encode()


def test_same_seed_same_bytes():
    assert inputs(7) == inputs(7)


def test_other_seed_other_inputs():
    a, b = json.loads(inputs(7)), json.loads(inputs(8))
    for key in a:
        assert a[key] != b[key], key


def test_vocabulary_is_the_fixture_vocabulary():
    assert len(VOCAB) == 31 and VOCAB == sorted(VOCAB)


def test_ingest_batches_are_new_docs():
    """Every ingested doc has a new id and a text not stored before."""
    batches = list(itertools.islice(gen.ingest_batches(3, VOCAB, 50), 20))
    ids = [d for b in batches for d, _, _ in b]
    assert len(ids) == len(set(ids)) == 1000
    texts = [t for b in batches for _, t, _ in b]
    assert len(set(texts) - set(START)) == 1000
