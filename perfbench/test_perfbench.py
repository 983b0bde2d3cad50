"""Tests of the benchmark's own machinery (no Spark session needed).

Run with ``python3 -m pytest perfbench/test_perfbench.py -q`` from the
repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    group_totals,
    parse_event_log,
    percentile,
    self_times,
    tail_percentile,
    union_length,
)


def _digest(root: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(root, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(root))
    }


def _generate(root: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    stg = inputs.write_staging(rng, os.path.join(root, "stg"), n_communes=10)
    star = inputs.write_star(rng, os.path.join(root, "star"), scale=0.01)
    corpus = inputs.write_corpus(rng, os.path.join(root, "corpus"), 300, 50)
    deck = inputs.read_deck(rng, 3)
    return {"stg": stg, "star": star, "corpus": corpus, "deck": deck}


def test_generators_repeat_per_seed(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    for sub in ("stg", "star", "corpus"):
        assert _digest(str(tmp_path / "a" / sub)) == _digest(str(tmp_path / "b" / sub))
        assert _digest(str(tmp_path / "a" / sub)) != _digest(str(tmp_path / "c" / sub))
    assert a["deck"] == b["deck"] != c["deck"]
    assert a["stg"]["rows"] == b["stg"]["rows"]


def test_generated_input_properties(tmp_path):
    g = _generate(str(tmp_path), 3)
    stg = g["stg"]
    assert set(stg["paths"]) == set(inputs.STAGING_HEADERS)
    # 10 communes x 15 years x 36 population rows, plus duplicated lines
    assert stg["rows"]["stg_population"] >= 10 * 15 * 36
    assert 0.0 < stg["dirty_share"] < 0.03
    assert g["corpus"]["documents"] == 300
    # every deck holds the exact mix, shuffled
    deck = g["deck"]
    for i in range(0, len(deck), len(inputs.DECK)):
        assert Counter(o["kind"] for o in deck[i:i + len(inputs.DECK)]) == Counter(inputs.DECK)
    assert [o["kind"] for o in deck[:len(inputs.DECK)]] != list(inputs.DECK)


def test_changed_customers_batch():
    batch = inputs.changed_customers(11, 1000, 0.015, 4)
    assert len(batch) == 15
    assert len({k for k, _, _ in batch}) == 15
    assert all(seg.endswith("-V4") for _, seg, _ in batch)
    assert batch == inputs.changed_customers(11, 1000, 0.015, 4)


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_rule(n, p):
    assert tail_percentile(n) == p


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 90.0) == 90
    assert percentile(xs, 50.0) == 50
    assert percentile([5.0], 99.0) == 5.0


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    spans = [
        Span("r", "root", None, 0.0, 10.0),
        Span("a", "a", "r", 1.0, 3.0),
        Span("b", "b", "r", 2.0, 5.0),
        Span("c", "c", "r", 8.0, 12.0),  # clipped to the parent's end
        Span("d", "d", "a", 1.5, 2.5),  # a grandchild: not subtracted from r
    ]
    st = self_times(spans)
    assert st["r"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(1.0)
    assert st["d"] == pytest.approx(1.0)


def test_tracer_nesting_and_wrap():
    class Layer:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Layer, "work", "layer.work", lambda x: {"x": x})
    with tr.span("op", kind="k"):
        assert Layer.work(1) == 2
    tr.unwrap()
    assert Layer.work(1) == 2 and len(tr.spans) == 2
    root, child = tr.spans
    assert child.parent == root.id and child.attrs == {"x": 1}
    assert root.start <= child.start <= child.end <= root.end
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")) as fh:
        jobs = parse_event_log(fh)
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    groups = group_totals(jobs)
    # the untagged jobs (no job group) are not attributed to any span
    assert set(groups) == {"pb0", "pb1"}
    assert groups["pb0"]["jobs"] == 2 and groups["pb0"]["tasks"] == 3
    assert groups["pb0"]["shuffle_write_bytes"] == 364
    assert groups["pb0"]["python_worker_ms"] == 0
    assert groups["pb1"]["jobs"] == 1 and groups["pb1"]["tasks"] == 2
    assert groups["pb1"]["python_worker_ms"] == 1794 + 1978
    assert groups["pb1"]["executor_run_ms"] == 2060 + 2219


def test_benchmark_json_matches_the_command():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == metrics.PER_LAYER
    for m in spec["per_layer"]:
        assert m["unit"] == metrics.unit_of(m["name"]), m["name"]


class _Failing:
    """A workload of two operations per round whose second operation
    fails in the first round."""

    round_len = 2

    def sequence(self, i):
        return {"kind": "read"}

    def op(self, i):
        if i == 1:
            raise RuntimeError("read failed")
        return "read"


def test_timed_loop_runs_whole_rounds_and_counts_failures():
    import run

    recs, nxt = run.timed_loop(_Failing(), 0.0, 0)
    assert nxt == 2 and [ok for _, _, ok in recs] == [True, False]
    assert run.tally(recs, []) == (2, 1)
    assert run.tally(recs[:1], ["rls: 3 rows, want 4"]) == (1, 1)


def test_an_oracle_that_fails_is_a_wrong_result(tmp_path):
    sys.path.insert(0, os.path.dirname(HERE))
    import workloads

    w = workloads.Workload(1)
    w.root = str(tmp_path)  # no tables: every oracle query fails
    w.outputs = [("tpch_q3", ["l_orderkey"], [(1,)])]
    bad = w.check_outputs()
    assert len(bad) == 1 and bad[0].startswith("tpch_q3: oracle check failed")
