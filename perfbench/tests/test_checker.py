"""The checker must notice a wrong answer: a perturbed rank, a moved
component label or one changed byte of extracted text each drop
``ops_ok_ratio`` below 1. No Spark session is started; the answers are
built from the reference and fed to the workloads' own checks."""

import numpy as np
import pytest

import workloads
from reference import Tally, same_partition


def _prepared(cls, tmp_path, **sizes):
    wl = cls(name="test", work=str(tmp_path))
    wl.sizes = {**cls.sizes, **sizes}
    wl.prepare(seed=1)
    return wl, {op.name: op for op in wl.ops(spark=None, ckpt=None)}


def _ratio(checks) -> float:
    tally = Tally()
    for name, (ok, why) in checks:
        tally.record(name, ok, why)
    return tally.ratio


@pytest.fixture
def latency(tmp_path):
    return _prepared(workloads.GraphLatency, tmp_path, n=300, m=3_000)


@pytest.fixture
def ingest(tmp_path):
    return _prepared(workloads.CrawlIngest, tmp_path, pages=200, minhash_docs=50)


def test_reference_answers_pass(latency):
    wl, ops = latency
    ranks, iters = wl.ref["pagerank"]
    assert _ratio([
        ("pagerank", ops["pagerank"].check((ranks.copy(), iters))),
        ("cc", ops["cc"].check(wl.ref["cc"].copy())),
    ]) == 1.0


def test_rank_off_by_1e3_fails(latency):
    wl, ops = latency
    ranks, iters = wl.ref["pagerank"]
    bad = ranks.copy()
    bad[7] += 1e-3
    assert _ratio([("pagerank", ops["pagerank"].check((bad, iters)))]) < 1.0


def test_pagerank_iteration_count_is_checked(latency):
    wl, ops = latency
    ranks, iters = wl.ref["pagerank"]
    assert _ratio([("pagerank", ops["pagerank"].check((ranks, iters + 1)))]) < 1.0


def test_component_label_swapped_fails(latency):
    wl, ops = latency
    labels = wl.ref["cc"].copy()
    labels[11] = labels.max() + 1  # one vertex moved to a component of its own
    assert _ratio([("cc", ops["cc"].check(labels))]) < 1.0


def test_partition_compare_ignores_label_values():
    assert same_partition(np.array([5, 5, 9, 9]), np.array([0, 0, 2, 2]))
    assert not same_partition(np.array([5, 5, 9, 9]), np.array([0, 2, 2, 2]))


def test_one_byte_of_text_changed_fails(ingest):
    wl, ops = ingest
    good = dict(wl.p.text)
    url = sorted(good)[3]
    bad = dict(good)
    bad[url] = "X" + good[url][1:]
    assert _ratio([("text", ops["extract_text"].check(good))]) == 1.0
    assert _ratio([("text", ops["extract_text"].check(bad))]) < 1.0


def test_edge_set_and_minhash_checks(ingest):
    wl, ops = ingest
    edges = set(wl.p.edges)
    assert ops["edge_table"].check(edges)[0]
    edges.pop()
    assert not ops["edge_table"].check(edges)[0]
    sigs = wl.ref["minhash"].copy()
    ids = np.arange(len(sigs))
    assert ops["minhash"].check((ids, sigs))[0]
    sigs[2, 3] += 1
    assert not ops["minhash"].check((ids, sigs))[0]
