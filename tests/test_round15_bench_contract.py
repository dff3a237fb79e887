"""Round-15 verdict #1: the driver-facing final stdout line must carry
per-query timings AND stay inside the driver's ~2000-char tail capture
(BENCH_r06.json proves an over-long last line breaks parsing outright).
Pure logic — no Spark sessions, no timing."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(__file__), "..", "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _fake_result(n_queries: int) -> dict:
    # realistic name lengths (~19 chars avg in the registry)
    timings = {
        f"query_name_padded_{i:04d}": 0.1 + (i % 40) * 0.37
        for i in range(n_queries)
    }
    return {
        "metric": "headline_queries_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "load": {"pre": {"foreign_busy_frac": 0.0021}},
        "rerun": {
            "reason": "2/283 above spread",
            "first_total": 166.44,
            "second_total": 165.99,
            "queries_before": {"a": 9.9},
        },
        "scales": {
            "docs10x": {
                "total": 29.6,
                "load": {"pre": {"foreign_busy_frac": 0.0016}},
                "rerun": {
                    "reason": "drift",
                    "first_total": 31.0,
                    "second_total": 29.6,
                    "kept": "second",
                },
            },
            "streaming": {"total_wall": 17.9,
                          "load": {"pre": {"foreign_busy_frac": 0.01}}},
            "events10x": {"error": "boom"},
        },
    }


def test_compact_line_fits_tail_and_parses():
    result = _fake_result(283)
    committed = {"queries": dict(result["queries"])}
    line = bench._compact_line(result, committed)
    assert len(line) <= bench.COMPACT_LINE_BUDGET <= 1950
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_wall"
    assert parsed["value"] == result["value"]
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["n_queries"] == 283
    assert parsed["scale_totals"]["docs10x"] == 29.6
    assert parsed["scale_totals"]["streaming"] == 17.9
    assert parsed["scale_totals"]["events10x"] is None
    assert parsed["reruns"]["headline"] == [166.44, 165.99]
    assert parsed["reruns"]["docs10x"] == [31.0, 29.6]
    assert parsed["load_pre_busy_max"] == 0.01


def test_compact_line_queries_are_slowest_by_committed_time():
    result = _fake_result(283)
    committed = {"queries": dict(result["queries"])}
    parsed = json.loads(bench._compact_line(result, committed))
    q = parsed["queries"]
    # a real per-query payload made it into the line
    assert len(q) >= 30
    # every included query's committed time >= every excluded one's
    included_min = min(committed["queries"][n] for n in q)
    excluded = [n for n in result["queries"] if n not in q]
    assert all(committed["queries"][n] <= included_min + 1e-9 for n in excluded)
    # values are this RUN's timings at 3dp
    for n, v in q.items():
        assert v == round(result["queries"][n], 3)
    assert parsed["queries_subset"] == "slowest-by-committed-time"


def test_compact_line_small_suite_includes_everything():
    result = _fake_result(20)
    line = bench._compact_line(result, None)  # no committed artifact
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 20


def test_compact_line_deterministic_across_runs():
    # the driver benches at 32 AND 8 cores: both runs read the same
    # committed artifact, so the subset must not depend on this run's
    # own (noisy) timings
    committed = {"queries": {f"query_name_padded_{i:04d}": 100.0 - i
                             for i in range(283)}}
    r1, r2 = _fake_result(283), _fake_result(283)
    for n in r2["queries"]:
        r2["queries"][n] *= 1.5  # a slower box-day
    k1 = set(json.loads(bench._compact_line(r1, committed))["queries"])
    k2 = set(json.loads(bench._compact_line(r2, committed))["queries"])
    # subsets may differ by at most the tail entry (digit-width effects)
    assert len(k1 ^ k2) <= 2
    # and both contain the committed-slowest block outright
    slowest = {f"query_name_padded_{i:04d}" for i in range(30)}
    assert slowest <= k1 and slowest <= k2


def test_phase_split_queries_are_real_bench_queries():
    # r15 verdict #5: split entries must shadow an existing benched query
    assert bench.PHASE_SPLIT_QUERIES <= set(bench.BENCH_QUERIES)


def test_compact_line_n_queries_ignores_additive_split_entries():
    result = _fake_result(20)
    result["queries"]["cos_topk_hnsw_build"] = 1.0
    result["queries"]["cos_topk_hnsw_probe"] = 2.0
    result["n_queries"] = 20  # what main() publishes: real queries only
    parsed = json.loads(bench._compact_line(result, None))
    assert parsed["n_queries"] == 20
    # the additive entries re-count a real query: they stay out of the
    # line (the full map in bench_out.json keeps them)
    assert not bench.PHASE_SPLIT_ENTRIES & set(parsed["queries"])
    assert len(parsed["queries"]) == 20


def test_compact_line_split_entries_take_no_subset_slots():
    # the split entries are the slowest by committed time here; the
    # budget-limited subset must still be the slowest REAL queries
    result = _fake_result(283)
    committed = {"queries": dict(result["queries"])}
    for name in bench.PHASE_SPLIT_ENTRIES:
        result["queries"][name] = committed["queries"][name] = 1e6
    with_split = json.loads(bench._compact_line(result, committed))["queries"]
    for name in bench.PHASE_SPLIT_ENTRIES:
        del result["queries"][name], committed["queries"][name]
    without = json.loads(bench._compact_line(result, committed))["queries"]
    assert with_split == without


def test_latest_committed_bench_reads_head_not_worktree(monkeypatch):
    # main() overwrites the working-tree bench_out.json at the end of a
    # run; the ranking must come from the committed artifact
    calls = []

    def fake_run(cmd, **kwargs):
        calls.append(cmd)
        return bench.subprocess.CompletedProcess(
            cmd, 0, stdout=json.dumps({"queries": {"committed_q": 1.0}})
        )

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench._latest_committed_bench() == {"queries": {"committed_q": 1.0}}
    assert calls == [["git", "show", "HEAD:bench_out.json"]]


def test_latest_committed_bench_falls_back_to_file(monkeypatch):
    def no_git(cmd, **kwargs):
        raise bench.subprocess.CalledProcessError(128, cmd)

    monkeypatch.setattr(bench.subprocess, "run", no_git)
    path = os.path.join(os.path.dirname(bench.__file__), "bench_out.json")
    with open(path) as f:
        on_disk = json.load(f)
    assert bench._latest_committed_bench() == on_disk
