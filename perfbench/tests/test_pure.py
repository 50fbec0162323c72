"""Tests for the benchmark's pure parts (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


# --- tail percentile rule ---------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert stats.tail(range(n)) is None


@pytest.mark.parametrize("n, pct", [(11, 100 / 11), (100, 90.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    value, got_pct, got_n = stats.tail(xs)
    assert got_n == n
    assert got_pct == pytest.approx(pct)
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND
    assert value == n - stats.TAIL_BEYOND - 1


# --- ratios and interval cover ---------------------------------------------


def test_ratio_zero_base_is_zero():
    assert stats.ratio(5.0, 0) == 0.0
    assert stats.ratio(3.0, 4.0) == 0.75


def test_covered_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert stats.covered(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert stats.covered(iv, 2.5, 5.5) == pytest.approx(1.0)
    assert stats.covered([], 0.0, 1.0) == 0.0


def test_covered_nested_interval_counts_once():
    assert stats.covered([(0.0, 10.0), (2.0, 3.0)], 0.0, 10.0) == pytest.approx(10.0)


# --- generator determinism and ground truth --------------------------------


def test_corpus_is_deterministic_per_seed():
    a, b, c = gen.make_corpus(7, 300), gen.make_corpus(7, 300), gen.make_corpus(8, 300)
    assert a.texts == b.texts
    assert np.array_equal(a.vectors, b.vectors)
    assert a.planted_pairs == b.planted_pairs
    assert a.contaminated == b.contaminated
    assert a.texts != c.texts


def test_corpus_planted_truth_matches_texts():
    c = gen.make_corpus(3, 400)
    assert c.planted_pairs, "generator planted no duplicate pairs"
    for a, b, j in c.planted_pairs:
        assert a < b
        assert j == gen.token_jaccard(c.texts[a], c.texts[b])
    assert c.vectors.shape == (400, gen.EMB_DIM)
    assert all(d % gen.EVAL_MOD for d in c.contaminated)
    assert set(c.langs) <= set(gen.LANGS)


def test_ingest_arrivals_deterministic_and_each_row_lands_once():
    g1, g2 = gen.IngestGen(5, 500), gen.IngestGen(5, 500)
    files = [g1.arrival(k) for k in range(1, 8)]
    assert all(f.equals(g2.arrival(k)) for k, f in enumerate(files, 1))
    ids = np.concatenate([f.column("event_id").to_numpy() for f in files])
    assert len(ids) == len(set(ids.tolist()))
    # every row of days 1..5 has landed by file 7 (lateness is at most 2)
    assert len(ids) >= 5 * 500
    for k, f in enumerate(files, 1):
        lateness = k - gen.day_numbers(f)
        assert ((lateness >= 0) & (lateness <= 2)).all()


def test_serve_ops_deterministic_and_mix():
    corpus = gen.make_corpus(2, 300)

    def take(n):
        stream = gen.serve_ops(2, corpus, 200)
        return [next(stream)[0]["kind"] for _ in range(n)]

    kinds = take(60)
    assert kinds == take(60)
    writes = [k for k in kinds if k != "read"]
    assert len(writes) / len(kinds) == pytest.approx(0.2, abs=0.05)
    assert set(gen.MUTATION_KINDS) <= set(writes)


def test_serve_ops_state_tracks_live_set():
    corpus = gen.make_corpus(4, 300)
    stream = gen.serve_ops(4, corpus, 200)
    live = set(range(200))
    for _ in range(40):
        op, state = next(stream)
        if op["kind"].startswith("bm25") and "old" in op:
            live -= set(op["old"])
        if op["kind"].startswith("bm25") and "new" in op:
            live |= set(op["new"])
        assert set(state.docs) == live


# --- metric names -----------------------------------------------------------


def test_metric_names_are_valid():
    e2e, layer = run.metric_units("end_to_end"), run.metric_units("per_layer")
    names = list(e2e) + list(layer) + [w["name"] for w in BENCHMARK["workloads"]]
    stats.check_names(names)
    assert len(names) == len(set(names))


def test_check_names_rejects_bad_names():
    with pytest.raises(ValueError):
        stats.check_names(["ok", "has space"])
    with pytest.raises(ValueError):
        stats.check_names(["x" * 65])


def test_result_line_shape():
    line = stats.result_line(True, 3, 0, {"latency_p50_s": (1.25, "s")})
    assert json.loads(line) == {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {"latency_p50_s": {"value": 1.25, "unit": "s"}},
    }


# --- derived ratios from a run's raw figures --------------------------------


def _raw(**out_kw):
    from workloads import Outcome

    out = Outcome(
        latencies={"read": [1.0, 3.0], "write": [5.0]},
        attempted=3,
        loop_s=6.0,
        items=3,
        work_s=6.0,
        input_bytes=1000,
        **out_kw,
    )
    return {
        "setup": (9.0, 1.5),
        "out": out,
        "totals": {"output_bytes": 1500.0, "shuffle_write_bytes": 500.0, "jobs": 4},
        "layers": {
            "incremental": {"calls": 4.0, "input_bytes": 800.0},
            "retrieval": {"calls": 2.0, "wall_s": 3.5},
        },
        "collect_s": 0.3,
        "rss_kb": {"python": 1024, "jvm": 2048},
        "bookkeeping_s": 0.1,
        "trace_extras": {"retrieval.live_roots": [1.0, 3.0]},
    }


def test_end_to_end_ratios():
    m = run.end_to_end("serve", _raw())
    assert m["write_amp"] == pytest.approx(2.0)  # (1500 + 500) / 1000
    assert m["items_per_s"] == pytest.approx(0.5)
    assert m["latency_p50_s"] == pytest.approx(2.0)  # reads only
    assert m["setup_s"] == pytest.approx(10.5)
    assert set(m) == set(run.metric_units("end_to_end"))


def test_per_layer_ratios_and_zero_layers():
    m = run.per_layer(_raw(extras={"incremental.append_yield": 0.34}))
    assert set(m) == set(run.metric_units("per_layer"))
    assert m["incremental.input_bytes_per_batch"] == pytest.approx(200.0)
    assert m["incremental.append_yield"] == pytest.approx(0.34)
    assert m["retrieval.live_roots"] == pytest.approx(2.0)  # mean per read
    assert m["retrieval.wall_s"] == pytest.approx(3.5)
    assert m["dedup.calls"] == 0.0 and m["dedup.candidate_yield"] == 0.0
    assert m["trace.overhead_frac"] == pytest.approx((6.0 + 0.3) / 5.9 - 1)
    assert m["session.start_s"] == pytest.approx(9.0)
