#!/usr/bin/env python
"""Per-round bench harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed N times (default 3, $SPARK_GRAFT_BENCH_RUNS) in
interleaved rounds — round-robin over the query set, not back-to-back
repeats — so shared-host drift hits every query equally instead of
whichever one it coincides with. The reported per-query figure is the
MEDIAN across rounds; per-query min/max spread is included so a
round-over-round delta can be judged against run-to-run noise.

SANDBOX-NOISE DEFENSE (the r7 lesson: this host fluctuates 1.3-2x
minute-to-minute, and a raw total taken during a loud window is not a
signal). The harness defends itself mechanically:

  * a machine-speed probe (chillastic_spark.session.calibrate) runs
    BETWEEN EVERY ROUND, not just before/after the run — round r's
    ambient speed is the mean of its two bounding probes;
  * a round whose ambient speed exceeds the session's fastest probe by
    >20% ($SPARK_GRAFT_BENCH_NOISE_TOL) is flagged noisy, and up to
    $SPARK_GRAFT_BENCH_MAX_EXTRA (default 2) replacement rounds are
    run automatically so the medians can come from quiet windows;
  * raw per-query medians are taken over the QUIET rounds only (all
    rounds if none are quiet, disclosed via "all_rounds_noisy");
  * a calibration-NORMALIZED figure (each sample scaled by
    fastest_probe / its_round_probe) over ALL rounds is printed next
    to raw, so two driver rounds taken under different ambient load
    compare on the normalized number.

The normalization math lives in the pure functions below
(round_calibrations / flag_noisy / normalize_rounds / quiet_medians)
and is pinned by tests/test_bench_math.py.

Timing excludes JVM/session startup (measured once, reported
separately) and uses a noop-sink materialisation per query so the
full plan executes without driver-side collect overhead dominating.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
NOISE_TOL = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_TOL", "0.20"))
MAX_EXTRA = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "2")))


# --------------------------------------------------------------- pure math
# (no Spark; pinned by tests/test_bench_math.py)


def round_calibrations(probes: "list[float]") -> "list[float]":
    """Per-round ambient speed from the interleaved probe sequence:
    probes p0..pR bound rounds r0..r(R-1); round i's calibration is
    the mean of its two bounding probes."""
    if len(probes) < 2:
        return [probes[0]] if probes else []
    return [(probes[i] + probes[i + 1]) / 2.0 for i in range(len(probes) - 1)]


def flag_noisy(
    round_calibs: "list[float]", calib_min: float, tol: float = NOISE_TOL
) -> "list[bool]":
    """A round is noisy when its ambient speed exceeds the session's
    fastest probe by more than ``tol`` (probe time scales with load,
    so bigger = slower machine)."""
    return [c > calib_min * (1.0 + tol) for c in round_calibs]


def normalize_rounds(
    rounds: "list[dict[str, float]]",
    round_calibs: "list[float]",
    calib_min: float,
) -> "list[dict[str, float]]":
    """Scale every sample to the session's fastest ambient window:
    normalized = raw * (fastest_probe / round_probe). A sample taken
    on a 1.3x-loaded machine shrinks by 1/1.3; quiet-window samples
    pass through unchanged."""
    out = []
    for times, c in zip(rounds, round_calibs):
        k = (calib_min / c) if c > 0 else 1.0
        out.append({n: t * k for n, t in times.items()})
    return out


def quiet_medians(
    rounds: "list[dict[str, float]]", noisy: "list[bool]"
) -> "tuple[dict[str, float], bool]":
    """Per-query median over the quiet rounds only; falls back to ALL
    rounds (second return True) when every round is noisy."""
    quiet = [r for r, bad in zip(rounds, noisy) if not bad]
    all_noisy = not quiet
    use = rounds if all_noisy else quiet
    names = set().union(*use) if use else set()
    med = {
        n: statistics.median([r[n] for r in use if n in r]) for n in names
    }
    return med, all_noisy


# The driver stores only the TAIL of this script's stdout (2000 chars
# in every BENCH_r*.json artifact) and re-parses the PREVIOUS round's
# stored tail to compute round-over-round speedups. Round 10 lost that
# comparison entirely because the r9 stdout line had grown past the
# capture window (spreads + calibration arrays pushed it to ~4.5 KB,
# the tail cut off the line's FRONT, json.loads failed). Contract fix
# (r10 verdict item 2): stdout carries ONLY the contract fields and
# must fit the capture window; everything else goes to stderr.
STDOUT_BUDGET = 1900  # < the 2000-char artifact tail, with slack

# stdout keys, in emission order. metric/value/unit/queries/sf are the
# driver contract; value_normalized/queries_normalized are the
# cross-round comparable figures (shared-host calibration — see module
# docstring); the rest are one-token flags a reader needs to judge the
# run (noise disclosure + timing method).
_CONTRACT_KEYS = [
    "metric",
    "value",
    "unit",
    "value_normalized",
    "queries",
    "queries_normalized",
    "sf",
    "n_queries",
    "noisy_rounds",
    "all_rounds_noisy",
    "calibration_min",
    "materialize",
]


def split_contract_payload(
    full: dict, budget: int = STDOUT_BUDGET
) -> "tuple[dict, dict]":
    """(stdout_payload, diagnostics) from the full result dict.

    stdout gets the contract keys; diagnostics (stderr) get the rest.
    If the compact stdout line still exceeds ``budget``, the normalized
    per-query map is demoted to diagnostics (value_normalized stays —
    it is one scalar), keeping the required fields parseable no matter
    how many queries the bench grows. ``queries`` itself is never
    demoted: it is the driver contract, so a line still over ``budget``
    after the demotion is reported (a stderr warning and
    ``stdout_over_budget``, its length, in the diagnostics) rather
    than cut."""
    out = {k: full[k] for k in _CONTRACT_KEYS if k in full}
    diag = {k: v for k, v in full.items() if k not in out}
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > budget and "queries_normalized" in out:
        diag["queries_normalized"] = out.pop("queries_normalized")
        diag["stdout_demoted"] = ["queries_normalized"]
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > budget:
        diag["stdout_over_budget"] = len(line)
        print(
            f"bench: the stdout line is {len(line)} chars, over its "
            f"{budget}-char budget even after demotion; a tail capture "
            "may cut it",
            file=sys.stderr,
        )
    return out, diag


def main() -> None:
    t0 = time.time()
    from chillastic_spark.queries import all_queries
    from chillastic_spark.session import calibrate, get_spark

    spark = get_spark("chillastic-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footer caches with a trivial action
    spark.range(1).count()
    startup = time.time() - t0

    qs = {n: q for n, q in all_queries().items() if q.headline}

    # steady-state measurement: one warmup pass at the smallest SF to
    # compile each plan's codegen before timing the real SF (standard
    # JIT-warm benching; reported in the JSON for transparency)
    warm_dir = "/root/testdata/sf0.001"
    t = time.time()
    if os.path.isdir(warm_dir):
        from chillastic_spark.persist import batch_scope as _bs

        for name, q in qs.items():
            try:
                with _bs():
                    # noop sink so the computed columns' codegen
                    # actually compiles (count() would prune them)
                    q.fn(spark, warm_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
    warmup = time.time() - t

    from chillastic_spark.persist import batch_scope

    def execute_full(df) -> None:
        # the noop sink executes EVERY operator and discards rows
        # executor-side. count() is NOT a full materialisation:
        # Catalyst prunes all deterministic computed columns under
        # Aggregate(count(1)), so a projection-only query (e.g.
        # text_features) would be timed as a metadata-only row count.
        df.write.format("noop").mode("overwrite").save()

    rows: dict[str, int] = {}
    rounds: list[dict[str, float]] = []
    probes: list[float] = [calibrate(spark)]

    def run_round(idx: int, total: int) -> None:
        times: dict[str, float] = {}
        for name, q in qs.items():
            # batch_scope: queries that pin intermediates internally
            # (persist.materialize) release them per run — unscoped,
            # the blocks accumulate across warmup + rounds and skew
            # the later interleaved rounds
            with batch_scope():
                t = time.time()
                df = q.fn(spark, SF_DIR)
                execute_full(df)
                dt = time.time() - t
                if name not in rows:
                    rows[name] = df.count()  # untimed, reporting only
            times[name] = dt
            print(
                f"# round {idx + 1}/{total} {name}: {dt:.2f}s"
                f" ({rows[name]} rows)",
                file=sys.stderr,
            )
        rounds.append(times)
        probes.append(calibrate(spark))

    for run in range(N_RUNS):
        run_round(run, N_RUNS)

    # auto-rerun: replace noisy rounds with fresh ones (bounded)
    extra = 0
    while extra < MAX_EXTRA:
        rc = round_calibrations(probes)
        noisy = flag_noisy(rc, min(probes), NOISE_TOL)
        if not any(noisy):
            break
        print(
            f"# noisy rounds {[i for i, b in enumerate(noisy) if b]}"
            f" (probes {[round(p, 3) for p in probes]}) — extra round",
            file=sys.stderr,
        )
        run_round(N_RUNS + extra, N_RUNS + extra + 1)
        extra += 1

    calib_min = min(probes)
    round_calibs = round_calibrations(probes)
    noisy = flag_noisy(round_calibs, calib_min, NOISE_TOL)
    raw_med, all_noisy = quiet_medians(rounds, noisy)
    norm_rounds = normalize_rounds(rounds, round_calibs, calib_min)
    norm_med = {
        n: statistics.median([r[n] for r in norm_rounds])
        for n in raw_med
    }

    timings = {n: round(raw_med[n], 3) for n in raw_med}
    timings_norm = {n: round(norm_med[n], 3) for n in norm_med}
    spread = {
        n: [
            round(min(r[n] for r in rounds), 3),
            round(max(r[n] for r in rounds), 3),
        ]
        for n in raw_med
    }
    total = round(sum(timings.values()), 3)
    total_norm = round(sum(timings_norm.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # calibration-normalized twin of "value": every sample
        # scaled to the session's fastest ambient window. THIS
        # is the cross-round comparable number on a shared
        # host; "value" is the honest raw wall clock.
        "value_normalized": total_norm,
        "queries": timings,
        "queries_normalized": timings_norm,
        "query_spread": spread,
        "runs_per_query": N_RUNS,
        "extra_rounds": extra,
        "noisy_rounds": [i for i, b in enumerate(noisy) if b],
        "all_rounds_noisy": all_noisy,
        "noise_tolerance": NOISE_TOL,
        "sf": sf_val,
        "startup_sec": round(startup, 3),
        "warmup_sec": round(warmup, 3),
        "calibration_sec": round(statistics.median(probes), 3),
        "calibration_min": round(calib_min, 3),
        "calibration_samples": [round(c, 3) for c in probes],
        "round_calibrations": [round(c, 3) for c in round_calibs],
        "n_queries": len(timings),
        # measurement method note: rounds 1-5 timed df.count(),
        # which lets Catalyst PRUNE computed columns (projection
        # -only queries timed as metadata row counts; aggregate
        # value expressions skipped). The noop sink executes the
        # full plan — numbers are honest but ~1s higher in total
        # than the old method on identical code.
        "materialize": "noop-sink",
    }
    out, diag = split_contract_payload(full)
    # spreads / probe arrays / run metadata: stderr, where the driver's
    # stdout tail capture cannot be pushed past its window by them
    print(
        "# diagnostics: " + json.dumps(diag, separators=(",", ":")),
        file=sys.stderr,
    )
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
