"""Tests of the benchmark itself: seeded inputs, the tail rule, typical
latencies, the result line, span self time and the row comparison. None
of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import gen
import oracles
import run
from spans import COUNTERS, Span, Tracer
from stats import TAIL_BEYOND, result_line, tail
from workloads import Body, Op

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.fixture
def small_eth(monkeypatch):
    """A tenth of the benchmark's Ethereum sizes: the same code paths, so
    these checks stay cheap inside a repo-wide test run."""
    for name in ("ETH_TRANSACTIONS", "ETH_ADDRESSES", "ETH_BLOCKS"):
        monkeypatch.setattr(gen, name, getattr(gen, name) // 10)


@pytest.mark.parametrize("make", [
    gen.gen_eth,
    gen.gen_star,
], ids=["eth_jobs", "star_sql"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, small_eth, make):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    # every file changes with the seed except the fixed-content region table
    changed = {n for n in a if a[n] != c[n]}
    assert changed == set(a) - {"region.parquet"}


def test_eth_inputs_carry_the_planted_malformed_share(tmp_path, small_eth):
    info = gen.gen_eth(3, str(tmp_path))
    with open(info["paths"]["transactions"], encoding="ascii") as f:
        lines = f.read().splitlines()[1:]
    bad = sum(1 for ln in lines if ",0xZZ," in ln or ",n/a," in ln)
    assert len(lines) == info["rows"]["transactions"]
    assert bad == info["malformed"]["transactions"] > 0
    share = bad / len(lines)
    assert abs(share - gen.ETH_MALFORMED_SHARE) < 0.01


def test_tail_has_exactly_ten_samples_beyond():
    xs = [float(v) for v in range(100, 0, -1)]          # 1..100, unsorted
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == TAIL_BEYOND


def test_tail_percentile_falls_with_few_samples():
    value, pct, n = tail([float(v) for v in range(1, 13)])
    assert (value, n) == (2.0, 12)
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_needs_more_samples_than_beyond():
    with pytest.raises(ValueError):
        tail([1.0] * TAIL_BEYOND)


def test_typical_latency_is_the_median_over_rounds():
    # two operations over three rounds; "b" has one slow round
    lat = [("a", 3.0), ("b", 1.0), ("a", 1.0), ("b", 2.0), ("a", 2.0), ("b", 9.0)]
    body = Body([Op(label, latency=x) for label, x in lat], rounds=3, wall_s=18.0,
                shuffle_mb=0.0)
    assert body.typical == {"a": 2.0, "b": 2.0}
    assert body.round_s == 4.0


def test_result_line_schema():
    line = result_line(True, 5, 1, {"setup_s": (1.25, "s"), "op_p50_s": (0.5, "s")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["correct"] is True and obj["attempted"] == 5 and obj["failed"] == 1
    assert obj["metrics"]["setup_s"] == {"value": 1.25, "unit": "s"}
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {"setup_s": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"setup_s": (float("nan"), "s")})


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("t", None, cores=1)
    tr.spans = [
        Span("a", 0.0, None, "t", end=10.0),
        Span("b", 1.0, 0, "t", end=4.0),
        Span("c", 3.0, 0, "t", end=5.0),       # overlaps b: union is 1..5
        Span("d", 7.0, 0, "t", end=8.0),
        Span("e", 1.5, 1, "t", end=2.0),       # grandchild: only b's child
    ]
    assert tr.self_times() == pytest.approx([5.0, 2.5, 2.0, 1.0, 0.5])


def test_layer_counters_count_each_layer_once():
    def span(name, parent, jobs, start, end):
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = c["executor_run_s"] = jobs
        return Span(name, start, parent, "t", end=end, counters=c)

    tr = Tracer("t", None, cores=2)
    tr.spans = [
        span("pipelines.job", None, 3.0, 0.0, 2.0),
        span("sources.write", 0, 2.0, 0.5, 1.5),      # inside another layer: counted
        span("sources.write", 1, 1.0, 0.6, 1.0),      # inside the same layer: not again
        span("queries.query", None, 4.0, 2.0, 4.0),
    ]
    out = tr.layer_counters(("pipelines", "sources", "queries", "operators"))
    assert (out["pipelines.jobs"], out["sources.jobs"], out["queries.jobs"],
            out["operators.jobs"]) == (3.0, 2.0, 4.0, 0.0)
    assert out["sources.slot_utilization"] == pytest.approx(2.0 / (1.0 * 2))


def test_rows_match_tolerance_and_order():
    cols = ["k", "v"]
    want = [("a", 1.0), ("b", 2.0)]
    assert oracles.rows_match(["V", "K"], [(2.0 * (1 + 1e-9), "b"), (1.0, "a")],
                              cols, want) is None
    assert oracles.rows_match(cols, [("a", 1.0), ("b", 2.1)], cols, want) is not None
    assert oracles.rows_match(cols, [("a", 1.0)], cols, want) is not None
