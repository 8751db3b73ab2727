"""Tests of the benchmark itself: the corpus generator is deterministic
per seed, its by-construction expectations hold when the real pipeline
runs over a tiny corpus, and every metric BENCHMARK.json names is
produced.

Run from the repository root:  python -m pytest perfbench/tests -q
(the Spark-backed tests start a local session and take a few minutes).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import corpus  # noqa: E402
import run  # noqa: E402

TINY = {
    "turtle_pages": {"n_pages": 40, "n_broken": 3, "big_stmts": 60,
                     "dense_groups": 30},
    "embedded_pages": {"n_pages": 60},
}


def _fingerprint(c: corpus.Corpus):
    return ([(p.url, p.text, p.html, p.broken, p.aliases) for p in c.pages],
            c.aliases, c.components, sorted(c.canonical_rows(), key=repr))


@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_generator_is_deterministic_per_seed(workload):
    gen = corpus.WORKLOADS[workload]
    a, b = gen(7, **TINY[workload]), gen(7, **TINY[workload])
    assert _fingerprint(a) == _fingerprint(b)
    assert _fingerprint(gen(8, **TINY[workload])) != _fingerprint(a)


def test_parquet_input_is_deterministic(tmp_path):
    c = corpus.turtle_pages(3, **TINY["turtle_pages"])
    c.write_parquet(tmp_path / "a")
    c.write_parquet(tmp_path / "b")
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()


def test_expectations_are_self_consistent():
    c = corpus.turtle_pages(5, **TINY["turtle_pages"])
    cmap = c.canonical_map()
    # every sameAs edge written into a page joins two nodes of one
    # component, and every component member maps to its minimum
    for p in c.pages:
        for s, pred, o in p.all_triples():
            if pred == corpus.OWL_SAME_AS:
                assert cmap[s] == cmap[o]
    for comp in c.components:
        assert {cmap[x] for x in comp} == {min(comp)}
    assert c.n_broken() == TINY["turtle_pages"]["n_broken"]
    assert all(n == 0 for n, ok in c.lineage().values() if not ok)
    # lookups count rows of the canonical table they are drawn from
    rows = c.canonical_rows()
    import random

    for s, p, n in c.lookups(random.Random(0), 50):
        assert n == sum(1 for r in rows if (s is None or r[1] == s)
                        and (p is None or r[2] == p))


def test_benchmark_json_matches_registries():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(corpus.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in run.PER_LAYER.items()}
    assert spec["paths"] == ["perfbench"]


@pytest.mark.parametrize("workload,trace", [
    ("turtle_pages", False),
    ("turtle_pages", True),
    ("embedded_pages", True),
])
def test_tiny_run_is_correct_and_emits_every_metric(workload, trace):
    """The real pipeline over a tiny corpus: every operation passes its
    by-construction output check, and every named metric appears."""
    res = run.Bench(workload, 1, 1, trace, sizes=TINY[workload]).run()
    names = run.PER_LAYER if trace else run.END_TO_END
    assert res["correct"], res
    assert res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(names)
    for k, v in res["metrics"].items():
        assert v["value"] == v["value"], k  # not NaN
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
