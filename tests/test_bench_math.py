"""Pin bench.py's sandbox-noise normalization math (pure functions,
no Spark): per-round calibration from interleaved probes, the >tol
noise flag, quiet-round medians with the all-noisy fallback, and the
fastest-window normalization. These numbers go into BENCH_r{N}.json
and drive the cross-round performance comparison, so the arithmetic
is pinned exactly. The same holds for scripts/ab_perfbench.py's
summary of interleaved parent/change pairs (quartiles, pairs won, the
gain / bound / unresolved verdict) and its per-layer diff of two traced
runs."""
import json
import statistics

import bench


def test_round_calibrations_are_bounding_probe_means():
    # 3 rounds → 4 probes; round i = mean(p[i], p[i+1])
    assert bench.round_calibrations([0.6, 0.8, 0.6, 1.0]) == [
        0.7,
        0.7,
        0.8,
    ]
    assert bench.round_calibrations([0.5]) == [0.5]
    assert bench.round_calibrations([]) == []


def test_flag_noisy_threshold_is_strict_and_relative_to_min():
    calibs = [0.60, 0.72, 0.73, 1.2]
    # min probe 0.6, tol 20% → cutoff 0.72 exclusive
    assert bench.flag_noisy(calibs, 0.6, 0.20) == [
        False,
        False,
        True,
        True,
    ]


def test_normalize_scales_by_fastest_window():
    rounds = [{"q": 2.0}, {"q": 4.0}]
    # round 1 ran on a 2x-loaded machine (probe 1.2 vs min 0.6):
    # its sample halves; the quiet round passes through
    out = bench.normalize_rounds(rounds, [0.6, 1.2], 0.6)
    assert out[0]["q"] == 2.0
    assert out[1]["q"] == 2.0
    # zero/garbage calibration never divides
    out = bench.normalize_rounds([{"q": 3.0}], [0.0], 0.6)
    assert out[0]["q"] == 3.0


def test_quiet_medians_use_only_quiet_rounds():
    rounds = [{"q": 1.0, "p": 5.0}, {"q": 9.0, "p": 9.0}, {"q": 2.0, "p": 6.0}]
    med, all_noisy = bench.quiet_medians(rounds, [False, True, False])
    assert not all_noisy
    assert med["q"] == statistics.median([1.0, 2.0])
    assert med["p"] == statistics.median([5.0, 6.0])


def test_quiet_medians_fall_back_to_all_rounds_when_all_noisy():
    rounds = [{"q": 1.0}, {"q": 3.0}, {"q": 2.0}]
    med, all_noisy = bench.quiet_medians(rounds, [True, True, True])
    assert all_noisy
    assert med["q"] == 2.0


def _fake_full(n_queries: int) -> dict:
    qs = {f"realistic_query_name_{i:03d}": 1.234 for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_wall",
        "value": 27.86,
        "unit": "sec",
        "value_normalized": 26.72,
        "queries": qs,
        "queries_normalized": dict(qs),
        "query_spread": {n: [1.1, 2.2] for n in qs},
        "runs_per_query": 3,
        "extra_rounds": 0,
        "noisy_rounds": [],
        "all_rounds_noisy": False,
        "noise_tolerance": 0.2,
        "sf": 0.1,
        "startup_sec": 13.0,
        "warmup_sec": 35.0,
        "calibration_sec": 0.7,
        "calibration_min": 0.62,
        "calibration_samples": [0.7, 0.62, 0.65, 0.72],
        "round_calibrations": [0.66, 0.63, 0.68],
        "n_queries": n_queries,
        "materialize": "noop-sink",
    }


def test_contract_line_fits_driver_tail_capture():
    """The driver stores only the last 2000 chars of stdout and
    re-parses that tail next round; the stdout payload at the CURRENT
    bench size must fit with slack (the r9→r10 comparison died on a
    4.5 KB line)."""
    import json

    out, diag = bench.split_contract_payload(_fake_full(22))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET < 2000
    # contract fields present and parseable
    back = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in back
    assert len(back["queries"]) == 22
    # diagnostics carry the demoted bulk, nothing is lost
    for k in ("query_spread", "calibration_samples", "startup_sec"):
        assert k in diag and k not in back


def test_contract_line_demotes_normalized_map_when_over_budget():
    """Growing the bench must never push the stdout line past the
    capture window: queries_normalized is demoted to diagnostics
    first; `queries` (the contract) never is."""
    import json

    out, diag = bench.split_contract_payload(_fake_full(45))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_BUDGET
    assert "queries_normalized" not in out
    assert len(out["queries"]) == 45
    assert diag["stdout_demoted"] == ["queries_normalized"]
    assert len(diag["queries_normalized"]) == 45
    json.loads(line)


def test_contract_line_still_over_budget_after_demotion_is_reported(capsys):
    """When the `queries` map alone outgrows the budget, the line cannot
    shrink further: the overflow is recorded in the diagnostics and
    warned on stderr instead of passing silently."""
    out, diag = bench.split_contract_payload(_fake_full(120))
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) > bench.STDOUT_BUDGET
    assert len(out["queries"]) == 120 and "queries_normalized" not in out
    assert diag["stdout_demoted"] == ["queries_normalized"]
    assert diag["stdout_over_budget"] == len(line)
    err = capsys.readouterr().err
    assert f"{len(line)} chars" in err and f"{bench.STDOUT_BUDGET}-char budget" in err
    # inside the budget: no record, no warning
    _, diag = bench.split_contract_payload(_fake_full(45))
    assert "stdout_over_budget" not in diag
    assert capsys.readouterr().err == ""


def test_end_to_end_noise_recovery():
    """A loud middle round must not move the quiet-median, and the
    normalized figure must agree with the quiet raw figure when the
    noise is purely multiplicative (the calibration model)."""
    quiet_truth = {"q1": 2.0, "q2": 6.0}
    # one loud probe in the middle: rounds 1 and 2 each see ambient
    # speed (0.6+1.2)/2 = 0.9 → multiplicative slowdown 1.5
    probes = [0.6, 0.6, 1.2, 0.6, 0.6]
    rounds = [
        dict(quiet_truth),
        {n: t * 1.5 for n, t in quiet_truth.items()},
        {n: t * 1.5 for n, t in quiet_truth.items()},
        dict(quiet_truth),
    ]
    rc = bench.round_calibrations(probes)
    noisy = bench.flag_noisy(rc, min(probes), 0.20)
    assert noisy == [False, True, True, False]
    med, all_noisy = bench.quiet_medians(rounds, noisy)
    assert not all_noisy and med == quiet_truth
    norm = bench.normalize_rounds(rounds, rc, min(probes))
    for n, t in quiet_truth.items():
        for r in norm:
            assert abs(r[n] - t) < 1e-9


def _ab():
    """scripts/ab_perfbench.py, imported by path (scripts/ is no package)."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "ab_perfbench.py")
    spec = importlib.util.spec_from_file_location("ab_perfbench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_quartiles_are_inclusive_and_single_run_safe():
    ab = _ab()
    assert ab.quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_ab_pairs_won_follow_the_better_direction_and_ties_count_for_neither():
    ab = _ab()
    pairs = [(3.0, 2.0), (3.0, 3.0), (2.0, 4.0), (5.0, 1.0)]
    assert ab.pairs_won(pairs, "lower") == 2
    assert ab.pairs_won(pairs, "higher") == 1


def test_ab_gain_needs_nine_tenths_and_a_gap_beyond_the_parent_iqr():
    ab = _ab()
    # parent 10..19 (IQR 4.5), change 5 lower on every pair: a gain
    pairs = [(10.0 + i, 5.0 + i) for i in range(10)]
    s = ab.summarize(pairs, "lower", 0.25)
    assert s["won"] == 10 and s["verdict"] == "gain"
    assert s["parent"] == {"median": 14.5, "q1": 12.25, "q3": 16.75}
    assert s["change"]["median"] == 9.5 and s["ratio"] == 9.5 / 14.5
    # 8 of 10 won is short of nine tenths, whatever the gap
    lost = pairs[:8] + [(10.0, 11.0), (11.0, 12.0)]
    assert ab.summarize(lost, "lower", 0.25)["verdict"] != "gain"
    # every pair won, but by less than the parent's IQR: no gain
    close = [(100.0 + i, 99.9 + i) for i in range(10)]
    assert ab.summarize(close, "lower", 0.25)["verdict"] == "within bound"


def test_ab_bound_and_spread_verdicts():
    ab = _ab()
    # docs/s is better higher: 20% lower is inside a 0.25 bound
    steady = [(100.0, 80.0)] * 4
    s = ab.summarize(steady, "higher", 0.25)
    assert abs(s["worse_by"] - 0.2) < 1e-12 and s["spread"] == 0.0
    assert s["verdict"] == "within bound"
    assert ab.summarize([(100.0, 70.0)] * 4, "higher", 0.25)["verdict"] == "worse"
    # parent IQR/median 0.5 > bound: unresolved ...
    noisy = [(1.0, 1.0), (2.0, 2.1), (3.0, 2.9), (2.0, 2.0)]
    assert ab.summarize(noisy, "lower", 0.25)["verdict"] == "unresolved"
    # ... unless every change run beats every parent run
    apart = [(10.0, 1.0), (20.0, 2.0), (30.0, 1.5), (20.0, 1.2), (25.0, 1.1)]
    s = ab.summarize(apart, "lower", 0.25)
    assert s["won"] == 5 and s["verdict"] == "gain"
    assert ab.summarize(apart[:4] + [(10.0, 11.0)], "lower", 0.25)["verdict"] == "unresolved"
    beat = [(10.0, 4.0), (20.0, 9.0), (30.0, 5.0), (12.0, 3.0)]
    assert ab.summarize(beat, "lower", 0.25)["verdict"] in {"gain", "better"}


def test_ab_main_alternates_order_and_reports_each_metric(monkeypatch, tmp_path, capsys):
    ab = _ab()
    calls = []

    def fake_run(tree, workload, seed):
        side = "parent" if tree == "parent-tree" else "change"
        calls.append((side, seed))
        v = (10.0 if side == "parent" else 5.0) + seed / 100
        names = ("wall_s", "admit_s", "drain_s", "docs_per_s", "setup_s")
        return {"correct": True, "failed": 0,
                "metrics": {n: {"value": v, "unit": "s"} for n in names}}

    monkeypatch.setattr(ab, "run_bench", fake_run)
    out = tmp_path / "ab.json"
    ab.main(["--parent", "parent-tree", "--pairs", "4", "--seed", "3",
             "--workloads", "w", "--out", str(out)])
    assert calls == [
        ("parent", 3), ("change", 3), ("change", 4), ("parent", 4),
        ("parent", 5), ("change", 5), ("change", 6), ("parent", 6),
    ]
    summary = json.loads(out.read_text())["summary"]["w"]
    assert summary["all_correct"] is True
    # halved seconds are a gain; halved docs/s (better higher) is worse
    assert summary["metrics"]["drain_s"]["verdict"] == "gain"
    assert summary["metrics"]["drain_s"]["won"] == 4
    assert summary["metrics"]["docs_per_s"]["verdict"] == "worse"
    assert "drain_s" in capsys.readouterr().out


def test_ab_run_bench_runs_the_benchmark_command_for_its_run_seconds(monkeypatch):
    ab = _ab()
    seen = {}

    class Done:
        returncode = 0
        stdout = '{"correct": true}\n'
        stderr = ""

    def fake_subprocess_run(argv, **kw):
        seen["argv"], seen["cwd"] = argv, kw["cwd"]
        return Done()

    monkeypatch.setattr(ab.subprocess, "run", fake_subprocess_run)
    assert ab.run_bench("tree", "w", 7) == {"correct": True}
    assert seen["cwd"] == "tree"
    assert seen["argv"] == [
        *ab.SPEC["command"], "--workload", "w", "--seed", "7",
        "--seconds", str(ab.SPEC["run_seconds"]), "--trace", "0",
    ]


def test_ab_default_parent_rev_is_head_while_the_change_is_uncommitted(tmp_path):
    import subprocess

    ab = _ab()

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    git("init", "-q")
    (tmp_path / "f").write_text("1")
    git("add", "f")
    git("commit", "-qm", "parent")
    assert ab.default_parent_rev(str(tmp_path)) == "HEAD~"
    (tmp_path / "f").write_text("2")  # modified, unstaged
    assert ab.default_parent_rev(str(tmp_path)) == "HEAD"
    git("add", "f")  # staged
    assert ab.default_parent_rev(str(tmp_path)) == "HEAD"
    git("commit", "-qm", "change")
    assert ab.default_parent_rev(str(tmp_path)) == "HEAD~"
    (tmp_path / "new").write_text("")  # untracked
    assert ab.default_parent_rev(str(tmp_path)) == "HEAD"


def test_ab_layer_diff_prints_each_per_layer_metric_that_differs():
    ab = _ab()
    parent = {"sources.count_calls": {"value": 3.0, "unit": "count"},
              "spark.jobs": {"value": 19.0, "unit": "count"},
              "sinks.upsert_calls": {"value": 1.0, "unit": "count"},
              "plans.plan_bounds_s": {"value": 0.2512, "unit": "s"},
              "not.a.layer": {"value": 1.0, "unit": "s"}}
    change = {"sources.count_calls": {"value": 0.0, "unit": "count"},
              "spark.jobs": {"value": 11.0, "unit": "count"},
              "sinks.upsert_calls": {"value": 1.0, "unit": "count"},
              "plans.plan_bounds_s": {"value": 0.09, "unit": "s"},
              "not.a.layer": {"value": 2.0, "unit": "s"}}
    # BENCHMARK.json order; equal values and unknown names are left out
    assert ab.layer_diff(parent, change) == [
        f"  {'plans.plan_bounds_s':30s} 0.2512 -> 0.09 s",
        f"  {'sources.count_calls':30s} 3 -> 0 count",
        f"  {'spark.jobs':30s} 19 -> 11 count",
    ]
    assert ab.layer_diff(parent, parent) == []


def test_ab_trace_seed_runs_one_traced_run_per_side_after_the_pairs(
    monkeypatch, tmp_path, capsys
):
    ab = _ab()
    calls = []

    def fake_run(tree, workload, seed, trace=0):
        side = "parent" if tree == "parent-tree" else "change"
        calls.append((side, seed, trace))
        if trace:
            jobs = 19.0 if side == "parent" else 11.0
            return {"correct": True, "failed": 0,
                    "metrics": {"spark.jobs": {"value": jobs, "unit": "count"},
                                "sinks.upsert_calls": {"value": 1.0, "unit": "count"}}}
        names = ("wall_s", "admit_s", "drain_s", "docs_per_s", "setup_s")
        return {"correct": True, "failed": 0,
                "metrics": {n: {"value": 1.0, "unit": "s"} for n in names}}

    monkeypatch.setattr(ab, "run_bench", fake_run)
    out = tmp_path / "ab.json"
    ab.main(["--parent", "parent-tree", "--pairs", "2", "--seed", "3",
             "--workloads", "w", "--trace-seed", "7", "--out", str(out)])
    assert calls[-2:] == [("parent", 7, 1), ("change", 7, 1)]
    assert all(trace == 0 for _, _, trace in calls[:-2])
    printed = capsys.readouterr().out
    assert "w per-layer, --trace 1 seed 7, parent -> change:" in printed
    assert f"  {'spark.jobs':30s} 19 -> 11 count" in printed
    assert "sinks.upsert_calls" not in printed
    traces = json.loads(out.read_text())["traces"]["w"]
    assert traces["change"]["metrics"]["spark.jobs"]["value"] == 11.0
