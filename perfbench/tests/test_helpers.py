"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import os

import numpy as np
import pytest

from perfbench import digest, gen, refs
from perfbench.tracing import fold_event_log, tail_rank, tail_stat

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------- the ">= 10 beyond" rule

def test_tail_rank_leaves_ten_beyond():
    for n in (11, 12, 50, 100, 1000):
        i = tail_rank(n)
        assert n - 1 - i == 10


def test_tail_stat_percentile_and_value():
    values = list(range(100, 0, -1))  # unsorted input
    value, pct, n = tail_stat(values)
    assert (value, pct, n) == (90, 90.0, 100)
    value, pct, n = tail_stat(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11) and n == 11


def test_tail_stat_too_few_samples_reports_max_as_p100():
    assert tail_stat([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail_stat([float(i) for i in range(10)]) == (9.0, 100.0, 10)


# ------------------------------------------------------- event-log fold

def test_fold_event_log_fixture():
    with open(os.path.join(HERE, "fixture_eventlog.jsonl"), encoding="utf-8") as fh:
        folded = fold_event_log(fh)
    # the untagged job is dropped; stage 1 belongs to the first job listing it
    assert set(folded) == {"panel_batch:1:operators.ranking", "panel_batch:1:sink"}
    rank = folded["panel_batch:1:operators.ranking"]
    assert rank["jobs"] == 1 and rank["stages"] == 2 and rank["tasks"] == 2
    assert rank["run_ms"] == 150 and rank["cpu_ms"] == pytest.approx(80.0)
    assert rank["gc_ms"] == 5 and rank["shuffle_bytes"] == 1000 and rank["spill_bytes"] == 64
    assert rank["peak_exec_mem_bytes"] == 8192
    assert rank["input_bytes"] == 500 and rank["input_rows"] == 10
    sink = folded["panel_batch:1:sink"]
    assert sink["jobs"] == 1 and sink["tasks"] == 1 and sink["run_ms"] == 30


# ------------------------------------------------- generator determinism

def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(np.array_equal(a[k], b[k]) for k in a)


def test_panel_generator_is_deterministic_per_seed():
    assert _same(gen.panel_frame(7, 12, 30), gen.panel_frame(7, 12, 30))
    assert not _same(gen.panel_frame(7, 12, 30), gen.panel_frame(8, 12, 30))


def test_corpus_generator_is_deterministic_per_seed():
    kw = dict(docs=60, min_tokens=20, max_tokens=40, exponent=1.1, dup_frac=0.1,
              edit_frac=0.05, vocab_size=500, eval_docs=6)
    a, b = gen.corpus_frame(3, **kw), gen.corpus_frame(3, **kw)
    assert _same(a[0], b[0]) and _same(a[1], b[1]) and a[2] == b[2]
    assert not _same(a[0], gen.corpus_frame(4, **kw)[0])
    assert len(a[2]) == 6  # planted near-dup pairs


def test_planted_near_dups_are_found_by_the_reference():
    corpus, evals, planted = gen.corpus_frame(
        5, docs=200, min_tokens=50, max_tokens=120, exponent=1.1, dup_frac=0.1,
        edit_frac=0.05, vocab_size=5000, eval_docs=10,
    )
    pairs = refs.jaccard_pairs(corpus["doc_id"].tolist(), corpus["text"].tolist())
    label = refs.clusters(pairs)
    found = [label.get(a) is not None and label.get(a) == label.get(b) for a, b in planted]
    assert sum(found) / len(planted) >= 0.9


# ------------------------------------------------------- output checks

def _rows_of(cols: dict, keys: np.ndarray, groups: int) -> list[dict]:
    """Per-group partials as the Spark sink would return them."""
    w = digest.weight_np(keys)
    out = []
    for g in range(groups):
        m = keys % groups == g
        d = digest.digest_np({k: v[m] for k, v in cols.items()}, w[m])
        out.append(d)
    return out


def test_output_check_passes_on_the_reference_and_fails_when_perturbed():
    rng = np.random.default_rng(0)
    keys = np.arange(1000, dtype=np.int64)
    cols = {"a": rng.normal(size=1000), "b": rng.integers(0, 5, 1000).astype(float)}
    cols["a"][::50] = np.nan
    want = digest.digest_np(cols, digest.weight_np(keys))
    got = digest.fold(_rows_of(cols, keys, groups=4), ["a", "b"])
    assert digest.mismatches(got, want) == []

    swapped = {k: v.copy() for k, v in cols.items()}
    swapped["b"][[1, 2]] = swapped["b"][[2, 1]] + np.array([1.0, -1.0])  # same sum
    moved = digest.fold(_rows_of(swapped, keys, groups=4), ["a", "b"])
    assert any(m.startswith("w__b") for m in digest.mismatches(moved, want))

    nudged = {k: v.copy() for k, v in cols.items()}
    nudged["a"][3] += 1e-3
    assert digest.mismatches(digest.fold(_rows_of(nudged, keys, 4), ["a", "b"]), want)

    dropped = {k: v[1:] for k, v in cols.items()}
    assert digest.mismatches(digest.fold(_rows_of(dropped, keys[1:], 4), ["a", "b"]), want)


def _era(**kw) -> dict:
    row = {"era": 0, "rows": 100, "n_penalized": 100, "std_penalized": 0.2,
           "corr_prediction": 0.8, "corr_feature_0": 0.05, "corr_feature_1": -0.109}
    return row | kw


def test_penalizer_check_passes_within_the_cap():
    assert digest.penalizer_problems([_era(), _era(era=1)], ["feature_0", "feature_1"]) == []


@pytest.mark.parametrize("bad", [
    {"corr_feature_0": -0.3},                                    # over the cap
    {"corr_feature_1": None},                                    # corr undefined
    {"corr_feature_1": float("nan")},
    {"n_penalized": 0, "std_penalized": None,                    # all null
     "corr_prediction": None, "corr_feature_0": None, "corr_feature_1": None},
    {"n_penalized": 99},                                         # one null
    {"std_penalized": 0.0, "corr_prediction": float("nan"),      # constant
     "corr_feature_0": float("nan"), "corr_feature_1": float("nan")},
    {"corr_prediction": 0.02},                                   # unrelated to the prediction
])
def test_penalizer_check_fails_on_degenerate_output(bad):
    rows = [_era(), _era(era=1, **bad)]
    assert digest.penalizer_problems(rows, ["feature_0", "feature_1"])


# ------------------------------------------------------- process helpers

def test_process_tree_and_running_see_a_child_exit():
    import subprocess
    import sys

    from perfbench.tracing import process_tree, running

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in process_tree(os.getpid())
        assert running(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not running(child.pid)
