"""Bench regression tripwire: the committed medians in bench_last.json
are a performance contract; a plan regression (a dropped localCheckpoint
pin, a broadcast that stopped firing, a pushdown that broke) should fail
at commit time, not at the next judge round.

The guard re-times the N slowest committed queries at the same scale
factor bench.py recorded, under the session shape the medians were
recorded at (shuffle partitions overridden to MEDIANS_SHUFFLE_PARTITIONS,
32: docs/bench_medians.json was recorded on a 32-core box, where the
session default of one wave is 32 partitions; the conftest suite
session runs 8 for suite speed), after a small-SF warm pass AND one
untimed at-scale prime per query (the medians are steady-state:
per-input priming + median of 3). A single timed run is noisy, so the trip threshold is 3x the
committed median AND >= 1 s absolute slack — wide enough that the
observed full-bench interference (~1.5x swings on sub-2 s queries)
never false-fires, tight enough that a genuine plan regression (the
pins this repo relies on are worth 2.5-10x) still trips. On a breach
the query is re-timed up to twice more (best-of-3), so a single
co-tenant CPU-steal window cannot redden the suite (round-5 false
positive: dedup_simhash_pairs tripped purely under a concurrent sweep's
load; this sandbox shows steal ticks ~3.6x user in /proc/stat).

BOX CALIBRATION (round-11, after the r10 drift adjudication cost 45
minutes): when the committed medians carry a ``probe_sec`` — the fixed
shuffle microbenchmark bench.py runs (``bench.shuffle_probe``) — the
guard re-runs the same probe in its own session and scales every limit
by (current probe / committed probe), clamped to [0.6, 4.0]. A slower
box generation raises the limits instead of faking a regression; a
faster box TIGHTENS them instead of leaving medians refreshed on a slow
box as a loose guard. Plan regressions are box-independent, so they
trip at any ratio.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the committed contract; falls back to the latest local bench run
BENCH_JSONS = (
    os.path.join(REPO, "docs", "bench_medians.json"),
    os.path.join(REPO, "bench_last.json"),
)
N_SLOWEST = 10
FACTOR = 3.0
ABS_SLACK = 1.0  # seconds
RATIO_CLAMP = (0.6, 4.0)
# shuffle partitions (= cores, one wave) of the box the medians were recorded on
MEDIANS_SHUFFLE_PARTITIONS = 32


def _bench_record():
    path = next((p for p in BENCH_JSONS if os.path.exists(p)), None)
    if path is None:
        pytest.skip("no bench medians committed")
    with open(path) as fh:
        rec = json.loads(fh.read())
    sf_dir = f"/root/testdata/sf{rec['sf']:g}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"bench scale dir {sf_dir} not present")
    return rec, sf_dir


def _box_ratio(spark, rec) -> float:
    """current probe / committed probe, clamped; 1.0 when the committed
    record predates the probe."""
    committed = rec.get("probe_sec")
    if not committed:
        return 1.0
    import bench

    current = bench.shuffle_probe(spark)
    lo, hi = RATIO_CLAMP
    return min(hi, max(lo, current / committed))


def test_slowest_queries_within_committed_medians(spark):
    import time

    from elevate_data_pipeline_spark.queries import QUERIES

    rec, sf_dir = _bench_record()
    slowest = sorted(rec["queries"].items(), key=lambda kv: -kv[1])[:N_SLOWEST]
    slowest = [(n, t) for n, t in slowest if n in QUERIES]

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, _ in slowest:
        QUERIES[name](spark, warm_dir).collect()

    def timed(name):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        return time.perf_counter() - t0

    # Measure under the session shape the medians were recorded at, not
    # the test suite's: the conftest session runs shuffle.partitions=8 for
    # suite speed, but the committed medians were produced by bench.py on
    # a 32-core box, whose one-wave default is MEDIANS_SHUFFLE_PARTITIONS
    # (32) — the r12 round-start run of this guard clocked
    # dedup_ngram_jaccard at 99 s under 8 partitions vs 13 s at the
    # bench's 32 on the same quiet box (the self-join/window stages run
    # on a quarter of the cores). Same for priming: bench.py medians are
    # steady-state (per-input prime + median of 3), so the guard gives
    # each query one untimed at-scale run first (the VERDICT-r11 task-1
    # solo-probe protocol) — otherwise the single timed shot also pays
    # first-touch costs the medians never contain.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(MEDIANS_SHUFFLE_PARTITIONS))
    try:
        # Calibrate INSIDE the bench session shape (ADVICE r12): the
        # committed probe_sec was recorded by bench.py at
        # MEDIANS_SHUFFLE_PARTITIONS, so running the probe under the conftest
        # session's 8 would scale the limits with a probe measured
        # under a different session shape than the timings it scales.
        ratio = _box_ratio(spark, rec)

        for name, _ in slowest:
            QUERIES[name](spark, sf_dir).collect()  # untimed prime

        failures = []
        for name, committed in slowest:
            limit = max(committed * FACTOR, committed + ABS_SLACK) * ratio
            took = timed(name)
            # best-of-3: this sandbox shows heavy CPU steal (cumulative
            # steal ticks ~3.6x user in /proc/stat; identical warm runs
            # of one query swing 5 s -> 49 s inside a single session), so
            # one retry is not enough to outlast a steal window. A real
            # plan regression (the 2.5-10x pins this guard exists for)
            # is just as slow on all three runs.
            for _ in range(2):
                if took <= limit:
                    break
                took = min(took, timed(name))
            if took > limit:
                failures.append(
                    f"{name}: {took:.2f}s > limit {limit:.2f}s "
                    f"(committed median {committed:.2f}s, box ratio "
                    f"{ratio:.2f}, retried twice)"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert not failures, "bench regression tripwire:\n" + "\n".join(failures)


def test_guard_retry_logic_catches_real_regressions():
    """Unit-check the best-of-3 rule with fake timings: steal-window
    spikes pass on a later retry; three consecutive breaches still
    fail."""
    def evaluate(timings, committed=1.0, ratio=1.0):
        limit = max(committed * FACTOR, committed + ABS_SLACK) * ratio
        it = iter(timings)
        took = next(it)
        for _ in range(2):
            if took <= limit:
                break
            took = min(took, next(it))
        return took <= limit

    assert evaluate([10.0, 1.2])            # co-tenant spike, retry clean
    assert evaluate([10.0, 9.8, 1.4])       # two-run steal window, third clean
    assert not evaluate([10.0, 9.8, 9.9])   # real 3x regression persists
    assert evaluate([1.5])                  # within limit, no retry consumed
    # box calibration: a 2x-slower box (ratio 2) absorbs a 2x-inflated
    # replay; a 2x-faster box (ratio 0.6 clamped) tightens the limit so
    # a plan regression that would have hidden under stale slow-box
    # medians still trips
    assert evaluate([5.0, 5.0, 5.0], ratio=2.0)
    assert not evaluate([5.0, 5.0, 5.0], ratio=1.0)
    assert not evaluate([2.0, 2.0, 2.0], ratio=0.6)


def test_box_ratio_contract(monkeypatch):
    """_box_ratio: no committed probe -> 1.0 (legacy records); with a live
    probe (monkeypatched so no spark is needed) the division/clamp path is
    exercised through the real function, not re-derived inline."""
    import bench

    lo, hi = RATIO_CLAMP
    assert _box_ratio(None, {}) == 1.0
    assert _box_ratio(None, {"probe_sec": 0}) == 1.0

    def probe_at(value):
        monkeypatch.setattr(bench, "shuffle_probe", lambda spark: value)

    probe_at(10.0)
    assert _box_ratio(None, {"probe_sec": 1.0}) == hi  # slow box, clamped
    probe_at(0.1)
    assert _box_ratio(None, {"probe_sec": 1.0}) == lo  # fast box, clamped
    probe_at(0.8)
    assert _box_ratio(None, {"probe_sec": 0.4}) == pytest.approx(2.0)
