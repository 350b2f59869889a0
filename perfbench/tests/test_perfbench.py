"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q

The generator tests need no Spark; the run tests start one local
Spark session per run (a few minutes in all).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kg import nlp, spec  # noqa: E402
from perfbench import gen, run, trace, workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("kind,size", [("clean", 20), ("noisy", 300),
                                       ("corpus", 500)])
def test_generators_are_deterministic_per_seed(kind, size):
    a_pdf, a_truth = gen.GENERATORS[kind](3, size)
    b_pdf, b_truth = gen.GENERATORS[kind](3, size)
    c_pdf, _ = gen.GENERATORS[kind](4, size)
    assert a_pdf.equals(b_pdf) and a_truth == b_truth
    assert not a_pdf.equals(c_pdf)
    if kind != "clean":
        assert len(a_pdf) == len(c_pdf) == size


def test_materialize_writes_fixed_file_count_once(tmp_path):
    path, truth = gen.materialize(str(tmp_path), "corpus", 5, 500)
    files = sorted(os.listdir(path))
    assert len(files) == gen.N_FILES
    mtimes = [os.path.getmtime(os.path.join(path, f)) for f in files]
    again, truth2 = gen.materialize(str(tmp_path), "corpus", 5, 500)
    assert again == path and truth2 == truth
    assert mtimes == [os.path.getmtime(os.path.join(path, f))
                      for f in files]


def test_clean_transcripts_never_miss_the_dictionary():
    pdf, truth = gen.clean_transcripts(7, 30)
    assert truth["gold"]
    for text in pdf["text"]:
        assert all(m["canonical"] is not None
                   for m in nlp.find_mentions(spec.tokenize(text)))


def test_noisy_transcripts_have_misses_and_cross_turn_gold():
    pdf, truth = gen.noisy_transcripts(7, 1600)
    misses = sum(m["canonical"] is None for text in pdf["text"]
                 for m in nlp.find_mentions(spec.tokenize(text)))
    assert misses > 0
    assert truth["xturn_gold"] > 0


def test_corpus_has_near_dup_and_over_cap_clusters():
    pdf, truth = gen.dup_corpus(7, 1000)
    assert truth["near_dup_clusters"] > 4
    # each hot cluster alone is larger than the LSH block cap
    assert len(truth["hot_members"]) > 4 * spec.BLOCK_CAP
    assert pdf["doc_id"].is_unique


def test_benchmark_json_names_every_metric_with_its_unit():
    b = _bench()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    assert e2e == run.UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == trace.UNITS
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)
    setup_bound = next(m["bound"] for m in b["end_to_end"]
                       if m["name"] == "setup_s")
    assert all(m["bound"] <= setup_bound for m in b["end_to_end"])


def test_timed_iteration_count_depends_only_on_the_arguments():
    b = _bench()
    counts = {w["name"]: run.timed_iterations(workloads.WORKLOADS[w["name"]],
                                              b["run_seconds"])
              for w in b["workloads"]}
    assert counts == {"kg_noisy_k1_ckpt": 1, "corpus_dedup": 4}


@pytest.fixture(scope="module")
def bench_env():
    run._configure_env()


def _tiny(name: str) -> workloads.Workload:
    size = {"kg_noisy_k1_ckpt": 500, "kg_clean_k0": 60, "corpus_dedup": 600}
    return dataclasses.replace(workloads.WORKLOADS[name], size=size[name])


def test_untraced_run_reports_every_end_to_end_metric(bench_env):
    res = run.run_untraced(_tiny("corpus_dedup"), seed=1, seconds=0)
    assert res["failures"] == []
    assert set(res["metrics"]) == set(run.UNITS) | set(run.INFO_UNITS)
    assert res["metrics"]["rows_per_cpu_s"] > 0
    assert res["metrics"]["rows_per_s"] > 0
    assert res["metrics"]["error_rate"] == 0
    # one timed iteration (seconds=0) after the first
    assert res["attempted"] == 2


@pytest.mark.parametrize("name", ["kg_noisy_k1_ckpt", "corpus_dedup",
                                  "kg_clean_k0"])
def test_traced_run_reports_every_layer_metric(bench_env, name):
    res = trace.run_traced(_tiny(name), seed=2)
    assert res["failures"] == []
    m = res["metrics"]
    assert set(m) == set(trace.UNITS)
    if name == "kg_noisy_k1_ckpt":
        assert m["pipeline.miss_norms"] > 0
        assert m["checkpoint.batches"] > 0
        assert m["score.xturn_rows_out"] > 0
    elif name == "kg_clean_k0":
        assert m["pipeline.miss_norms"] == 0
        assert m["canon.candidates"] == 0
    else:
        assert m["canon.dropped_buckets"] > 0
