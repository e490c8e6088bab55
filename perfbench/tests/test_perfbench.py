"""Self-tests of the benchmark: input determinism, the numpy oracle, and
the metric names in BENCHMARK.json against what the code reports.

    python3 -m pytest perfbench/tests -q

None of these starts Spark.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_vectors_are_deterministic_per_seed():
    spec = gen.VectorSpec(n_base=50, n_queries=5, dim=8, n_clusters=3, spread=1.0)
    a, qa = gen.gaussian_mixture(spec, 1)
    b, qb = gen.gaussian_mixture(spec, 1)
    c, _ = gen.gaussian_mixture(spec, 2)
    assert np.array_equal(a, b) and np.array_equal(qa, qb)
    assert not np.array_equal(a, c)
    assert a.shape == (50, 8) and qa.shape == (5, 8) and a.dtype == np.float32


def test_documents_are_deterministic_per_seed_with_unique_ids():
    spec = gen.DocSpec(n_docs=60, n_dup_clusters=4, dup_cluster_size=3, vocab=200,
                       min_len=5, max_len=9, edit_rate=0.1)
    ids, text, labels = gen.documents(spec, 3)
    ids2, text2, labels2 = gen.documents(spec, 3)
    ids3, text3, _ = gen.documents(spec, 4)
    assert np.array_equal(ids, ids2) and text == text2 and np.array_equal(labels, labels2)
    assert text != text3
    assert len(np.unique(ids)) == len(ids) == 60
    _, sizes = np.unique(labels, return_counts=True)
    assert sorted(sizes)[-4:] == [3, 3, 3, 3] and (sizes == 1).sum() == 60 - 12


def test_exact_topk_on_a_tiny_input():
    base = np.array([[1, 0], [0, 3], [2, 2], [-1, 0], [0, 0]], dtype=np.float32)
    q = np.array([[1, 0.1], [0.1, -1]], dtype=np.float32)
    # cosine: direction only, so [2, 2] is nearer to [1, 0.1] than [0, 3]
    # is; the zero vector sits at distance 1 from everything
    assert gen.exact_topk(base, q, 3).tolist() == [[0, 2, 1], [0, 4, 3]]


def test_recall_and_pair_scores():
    truth = {0: [1, 2], 1: [3, 4]}
    assert gen.recall_at_k({0: [2, 1], 1: [3, 9]}, truth, 2) == 0.75
    assert gen.recall_at_k({}, truth, 2) == 0.0
    t = np.array([0, 0, 0, 1, 2])
    assert gen.pair_scores(t, t) == (1.0, 1.0)
    # predicted {a,b} {c} {d,e}: one of three true pairs, one of two predicted pairs
    assert gen.pair_scores(np.array([7, 7, 8, 9, 9]), t) == (1 / 3, 0.5)


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_code_reports_exactly_the_listed_metrics():
    pytest.importorskip("pyspark")
    import run
    from spans import Tracer
    from workloads import WORKLOADS, Outcome, Run

    spec = _spec()
    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])
    names = [m["name"] for m in spec["per_layer"]]
    got = run.layer_metrics(names, Run(Tracer(enabled=False, cores=4)), Tracer(False, 4),
                            (0.0, 1.0), 0.0, 4, 100.0)
    assert set(got) == set(names)
    e2e = run.end_to_end(1.0, Outcome([4.0], 5.0, 0.9), [0.5])
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
