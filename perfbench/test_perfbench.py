"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402
from perfbench.stats import mix_median, percentile, tail_percentile  # noqa: E402
from perfbench.trace import Span, Tracer, install, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, SpecSource, next_pass  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_tiny.jsonl")


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(99) is None
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_mix_median_is_mean_of_per_kind_medians():
    # a cheap kind and a dear one: an outlier moves its own kind's
    # median, not the boundary between the two modes
    by_kind = {"all_year": [0.2, 0.3, 9.0], "head": [1.0, 1.2, 1.1]}
    assert mix_median(by_kind) == pytest.approx((0.3 + 1.1) / 2)
    assert mix_median({"": [0.4]}) == pytest.approx(0.4)
    with pytest.raises(ValueError):
        mix_median({})


def _phrase(rng: random.Random) -> tuple[str, str]:
    i = rng.randint(1, 500)
    return f"w{i}", f"w{i + 1}"


def _passes(name: str, seed: int, n: int = 3) -> list:
    src = SpecSource(seed, _phrase)
    return [
        [(r.type, r.spec, r.detail, r.kind) for r in next_pass(WORKLOADS[name], src)]
        for _ in range(n)
    ]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_pools_deterministic_per_seed_and_distinct_across_seeds(name):
    assert _passes(name, 7) == _passes(name, 7)
    assert _passes(name, 7) != _passes(name, 8)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_pool_specs_are_distinct_within_a_run(name):
    keys = [
        spec.key()
        for p in _passes(name, 3, n=4)
        for typ, spec, _d, _p in p
        if typ in ("search", "search_total")
    ]
    assert len(keys) == len(set(keys))


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span("root", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 6.0, 0, 1),  # overlaps a: coverage is the union
        Span("a.child", 2.0, 3.0, 1, 1),
        Span("late", 9.0, 12.0, 0, 1),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 3])


def test_tracer_nests_spans_and_is_silent_when_disabled():
    t = Tracer()

    def inner():
        return 1

    def outer():
        return wrapped_inner() + 1

    wrapped_inner = t.wrap(inner, "inner")
    wrapped_outer = t.wrap(outer, "outer")
    assert wrapped_outer() == 2
    assert t.spans == []
    t.enabled = True
    with t.span("request.search", request=5):
        wrapped_outer()
    names = [(s.name, s.parent, s.request) for s in t.spans]
    assert names == [("request.search", None, 5), ("outer", 0, 5), ("inner", 1, 5)]


def test_install_restores_every_target():
    from newsleak_spark import api, facets
    from newsleak_spark.query import engine

    before = (
        api.compile_spec, api.search_heaps, facets.facet_counts,
        engine.IndexReader.__dict__["dictionary_rows"], api.NewsleakAPI.__dict__["get_docs"],
    )
    uninstall = install(Tracer())
    assert api.compile_spec is not before[0]
    uninstall()
    after = (
        api.compile_spec, api.search_heaps, facets.facet_counts,
        engine.IndexReader.__dict__["dictionary_rows"], api.NewsleakAPI.__dict__["get_docs"],
    )
    assert after == before


def test_eventlog_summary_on_tiny_log():
    jobs = eventlog.read_jobs(FIXTURE)
    groups = eventlog.by_group(jobs)
    assert set(groups) == {"setup", "req3:search", None}
    assert (groups[None]["jobs"], groups[None]["tasks"]) == (1, 1)  # killed task: no metrics
    s = groups["req3:search"]
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 2, 3)
    assert s["shuffle_write_bytes"] == 300
    assert s["shuffle_read_bytes"] == 300
    assert s["input_bytes"] == 1000
    assert s["executor_run_s"] == pytest.approx(0.06)
    b = groups["setup"]
    assert (b["jobs"], b["tasks"], b["executor_run_s"]) == (2, 2, pytest.approx(0.012))
    # job 0 was submitted before the "postings" commit, job 1 after it
    stages = eventlog.by_build_stage(
        [j for j in jobs if j["group"] == "setup"],
        [(1500.0, "postings"), (2500.0, "segments")],
    )
    assert stages["postings"]["shuffle_write_bytes"] == 50
    assert stages["segments"]["shuffle_write_bytes"] == 70
