"""Bench-harness fault isolation (VERDICT r3 item 2).

Round 3's driver bench died with rc=1 and ZERO timings because one key
(`x_cell_versions`) threw a plan-time AnalysisException and the timing
loop had no per-query try/except.  These tests prove the rewritten loop
survives a deliberately-broken spec: the breakage costs exactly one
`errors` entry and every other key still gets a timing.
"""

from __future__ import annotations

from dataclasses import dataclass

import bench


@dataclass(frozen=True)
class _FakeSpec:
    name: str
    fn: object
    oracle: str | None = None
    category: str = "test"


def _good(spark, sf_dir):
    return spark.range(5).toDF("id")


def _broken_at_plan_time(spark, sf_dir):
    df = spark.range(5).toDF("id")
    return df.select("no_such_column")  # AnalysisException at analysis


def _broken_at_build_time(spark, sf_dir):
    raise RuntimeError("query builder itself exploded")


def test_broken_key_cannot_void_the_bench(spark, tmp_path):
    specs = {
        "good_a": _FakeSpec("good_a", _good),
        "broken_plan": _FakeSpec("broken_plan", _broken_at_plan_time),
        "broken_build": _FakeSpec("broken_build", _broken_at_build_time),
        "good_b": _FakeSpec("good_b", _good),
    }
    timings, passes, errors = bench.time_queries(spark, specs, str(tmp_path))
    # the two good keys timed; the two broken keys isolated into errors
    assert set(timings) == {"good_a", "good_b"}
    assert set(errors) == {"broken_plan", "broken_build"}
    assert "AnalysisException" in errors["broken_plan"]
    assert "RuntimeError" in errors["broken_build"]
    assert all(v >= 0 for v in timings.values())


def test_all_good_keys_have_no_errors(spark, tmp_path):
    specs = {f"k{i}": _FakeSpec(f"k{i}", _good) for i in range(3)}
    timings, passes, errors = bench.time_queries(spark, specs, str(tmp_path))
    assert errors == {}
    assert set(timings) == set(specs)


def test_box_health_classifies_probe_drift():
    # Healthy probes -> not degraded; the r9 failure signatures (write
    # collapse, mt-cpu steal drift) -> degraded with named reasons.
    ok = {
        "write_mbps": 230.0,
        "cpu_probe_sec": 0.30,
        "cpu_probe_mt_sec": 0.35,
    }
    assert bench.box_health(ok, dict(ok)) == {"degraded": False, "reasons": []}
    write_collapse = dict(ok, write_mbps=7.2)  # BENCH_r09's mid-run value
    h = bench.box_health(ok, write_collapse)
    assert h["degraded"] and h["reasons"] == ["write_mbps_post=7.2"]
    steal = dict(ok, cpu_probe_mt_sec=0.50)  # r9: 0.35 -> 0.50 under load
    h = bench.box_health(ok, steal)
    assert h["degraded"] and "cpu_probe_mt_sec_drift=1.43" in h["reasons"]


def test_retry_inflated_targets_only_inflated_keys(spark, tmp_path, monkeypatch):
    # With an archived record of 0.5 s, a 5 s timing is retried (and the
    # MIN kept); an at-record timing and a record-less key are not.
    import json as _json

    (tmp_path / "BENCH_DETAIL_r99.json").write_text(
        _json.dumps({"queries": {"slow_now": 0.5, "fine": 0.5}})
    )
    specs = {
        "slow_now": _FakeSpec("slow_now", _good),
        "fine": _FakeSpec("fine", _good),
        "no_record": _FakeSpec("no_record", _good),
    }
    timings = {"slow_now": 5.0, "fine": 0.5, "no_record": 9.9}
    retried = bench.retry_inflated(spark, specs, str(tmp_path), timings, str(tmp_path))
    assert retried == ["slow_now"]
    assert timings["slow_now"] < 5.0  # min of (contaminated, fresh) won
    assert timings["fine"] == 0.5 and timings["no_record"] == 9.9


def test_box_health_flags_contended_start_via_history():
    # The r10 signature: the PRE probe is slow vs the archived best but
    # recovers by run end — drift alone reads as an improvement; the
    # historical comparison must flag it.
    ok = {"write_mbps": 300.0, "cpu_probe_sec": 0.10, "cpu_probe_mt_sec": 0.35}
    slow_start = dict(ok, cpu_probe_mt_sec=0.537)
    hist = {"cpu_probe_sec": 0.099, "cpu_probe_mt_sec": 0.336}
    h = bench.box_health(slow_start, ok, hist)
    assert h["degraded"]
    assert any(r.startswith("cpu_probe_mt_sec_pre_vs_hist") for r in h["reasons"])
    assert not bench.box_health(ok, dict(ok), hist)["degraded"]


def test_outlier_retry_threshold_is_selective(spark, tmp_path):
    # At the 3x outlier threshold, a 25x key is retried on a healthy
    # run while a 2x key is left for the degraded-only broader pass.
    import json as _json

    (tmp_path / "BENCH_DETAIL_r98.json").write_text(
        _json.dumps({"queries": {"wild": 2.0, "mild": 2.0}})
    )
    specs = {"wild": _FakeSpec("wild", _good), "mild": _FakeSpec("mild", _good)}
    timings = {"wild": 50.0, "mild": 4.0}
    retried = bench.retry_inflated(
        spark, specs, str(tmp_path), timings, str(tmp_path), threshold=3.0
    )
    assert retried == ["wild"]
    assert timings["wild"] < 50.0 and timings["mild"] == 4.0


def test_warm_spin_converges_immediately_on_healthy_box():
    # First probe within 1.3x of the archived best -> no sleeping, one
    # sample, converged.
    sleeps = []
    out = bench.warm_spin(
        {"cpu_probe_mt_sec": 0.336},
        probe=lambda: 0.35,
        sleep=sleeps.append,
        clock=iter([0.0, 0.6]).__next__,
    )
    assert out["converged"] is True
    assert out["samples"] == [0.35]
    assert sleeps == []


def test_warm_spin_waits_out_a_contended_start():
    # The r10 signature: pre-probe 1.5-1.9x the archived best.  The spin
    # keeps probing (sleeping between probes) until the box recovers,
    # then converges with every sample recorded.
    probes = iter([0.6, 0.55, 0.40])
    clock = iter([0.0, 1.0, 7.0, 13.0, 13.5]).__next__
    sleeps = []
    out = bench.warm_spin(
        {"cpu_probe_mt_sec": 0.336},
        probe=lambda: next(probes),
        sleep=sleeps.append,
        clock=clock,
    )
    assert out["converged"] is True
    assert out["samples"] == [0.6, 0.55, 0.40]
    assert sleeps == [bench.WARM_SPIN_SLEEP_SEC] * 2


def test_warm_spin_gives_up_at_the_bound():
    # A box that never recovers must not stall the bench: the spin stops
    # at max_sec with converged:false (box_health then flags the run,
    # exactly as before the spin existed).
    clock = iter([0.0, 30.0, 61.0, 61.5]).__next__
    out = bench.warm_spin(
        {"cpu_probe_mt_sec": 0.336},
        probe=lambda: 0.9,
        sleep=lambda s: None,
        clock=clock,
    )
    assert out["converged"] is False
    assert len(out["samples"]) == 2


def test_warm_spin_no_history_is_a_noop():
    # First round on a box (no archived BENCH_DETAIL): nothing to
    # compare against, first probe wins.
    out = bench.warm_spin({}, probe=lambda: 9.9, sleep=lambda s: None)
    assert out["converged"] is True
    assert len(out["samples"]) == 1


def test_prior_probes_archive_is_fresh_and_monotone():
    # VERDICT r10 item 7: the 1.3x comparison must track the box's real
    # best.  prior_probes is the min across ALL archived rounds
    # (recomputed here independently), and the newest archived round
    # (r10+) is actually in the scan — an archive that silently stopped
    # landing would freeze the record and mis-flag future runs.
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(bench.__file__))
    paths = glob.glob(os.path.join(here, "BENCH_DETAIL_r*.json"))
    assert paths, "no archived BENCH_DETAIL_r*.json"
    rounds = sorted(
        int(re.search(r"_r(\d+)\.json$", p).group(1)) for p in paths
    )
    assert rounds[-1] >= 10, "newest probe archive is stale (pre-r10)"
    expected: dict[str, float] = {}
    for p in paths:
        d = json.load(open(p))
        # r13: same-cpu archives only (VERDICT r12 item 6 — the 8-core
        # scaling leg must not anchor 32-core health history)
        if not bench._same_cpu(d, 32):
            continue
        # mid included since the r11 archives started carrying it
        # (ADVICE r11: a mid-run sample can be the box's fastest ever)
        for side in ("io_probe_pre", "io_probe_mid", "io_probe_post"):
            for probe in ("cpu_probe_sec", "cpu_probe_mt_sec"):
                v = (d.get(side) or {}).get(probe)
                if v is not None:
                    expected[probe] = min(expected.get(probe, float("inf")), v)
    got = bench.prior_probes(here)
    assert got == expected
    # at least one archive actually carries a mid probe, so the
    # three-sided scan is exercised by the real archive set
    assert any(
        (json.load(open(p)).get("io_probe_mid") or {}).get("cpu_probe_mt_sec")
        is not None
        for p in paths
    )
    # monotonicity: the running best through rounds never increases
    per_round: dict[int, float] = {}
    for p in paths:
        rnd = int(re.search(r"_r(\d+)\.json$", p).group(1))
        d = json.load(open(p))
        vals = [
            (d.get(side) or {}).get("cpu_probe_mt_sec")
            for side in ("io_probe_pre", "io_probe_mid", "io_probe_post")
        ]
        vals = [v for v in vals if v is not None]
        if vals:
            per_round[rnd] = min(vals)
    running = float("inf")
    for rnd in sorted(per_round):
        running = min(running, per_round[rnd])
        assert running <= per_round[rnd]


def test_dataset_bytes_handles_files_dirs_and_missing(tmp_path):
    # The r10 ADVICE fix: a directory-backed parquet dataset must size
    # by its part files (getsize on the dir returns the inode size,
    # ~4 KB, without raising — which silently set width=1), metadata
    # files don't count, and a missing path raises for the caller's
    # full-parallelism fallback.
    import os

    import pytest

    from hbasemapreduce_spark.functions.pystage import dataset_bytes

    f = tmp_path / "single.parquet"
    f.write_bytes(b"x" * 1000)
    assert dataset_bytes(str(f)) == 1000

    d = tmp_path / "dataset.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 600)
    (d / "part-1.parquet").write_bytes(b"b" * 400)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"c" * 50)
    assert dataset_bytes(str(d)) == 1000
    assert dataset_bytes(str(d)) != os.path.getsize(str(d))  # the bug shape

    with pytest.raises(OSError):
        dataset_bytes(str(tmp_path / "missing.parquet"))


def test_box_health_sees_mid_run_contention():
    # The r11 blind spot: a contention window entirely inside the run —
    # pre and post healthy, mid 2x the archived best — must flag
    # degraded (drift and endpoint-vs-history checks both miss it).
    ok = {"write_mbps": 300.0, "cpu_probe_sec": 0.10, "cpu_probe_mt_sec": 0.30}
    hist = {"cpu_probe_sec": 0.099, "cpu_probe_mt_sec": 0.28}
    bad_mid = dict(ok, cpu_probe_mt_sec=0.60)
    h = bench.box_health(ok, dict(ok), hist, mid=bad_mid)
    assert h["degraded"]
    assert any("cpu_probe_mt_sec_mid_vs_hist" in r for r in h["reasons"])
    # healthy mid changes nothing
    assert not bench.box_health(ok, dict(ok), hist, mid=dict(ok))["degraded"]
    # mid write collapse is also named
    h2 = bench.box_health(ok, dict(ok), hist, mid=dict(ok, write_mbps=7.2))
    assert h2["degraded"] and "write_mbps_mid=7.2" in h2["reasons"]


def test_repair_anomalies_archives_the_better_timing():
    # VERDICT r11 item 2: a fabricated anomaly (13.36 s flagged, 4.49 s
    # on the post-spin re-time) must end up archived at the repaired
    # number with BOTH recorded — and a re-time that lands WORSE must
    # not regress the archived timing.
    spins = []
    timings = {"x_slow": 13.36, "x_already_ok": 2.0}
    retimes = {"x_slow": 4.49, "x_already_ok": 9.0}
    repairs = bench.repair_anomalies(
        spark=None,
        specs=None,
        sf_dir="",
        timings=timings,
        anomalies=["x_slow", "x_already_ok"],
        hist={},
        spin=lambda: spins.append(1),
        runner=lambda k: retimes[k],
    )
    assert spins == [1], "exactly one warm-spin before the re-times"
    assert repairs == {"x_slow": [13.36, 4.49], "x_already_ok": [2.0, 9.0]}
    assert timings["x_slow"] == 4.49  # repaired
    assert timings["x_already_ok"] == 2.0  # min keeps the original


def test_repair_anomalies_survives_a_failing_retime():
    # A re-time that raises keeps the flagged timing and repairs the
    # rest — same fault-isolation contract as the bench loop.
    def runner(k):
        if k == "x_broken":
            raise RuntimeError("boom")
        return 1.0

    timings = {"x_broken": 8.0, "x_fine": 7.0}
    repairs = bench.repair_anomalies(
        spark=None,
        specs=None,
        sf_dir="",
        timings=timings,
        anomalies=["x_broken", "x_fine"],
        hist={},
        spin=lambda: None,
        runner=runner,
    )
    assert "x_broken" not in repairs
    assert timings["x_broken"] == 8.0
    assert repairs["x_fine"] == [7.0, 1.0] and timings["x_fine"] == 1.0


def test_time_queries_fills_mid_sink(spark, tmp_path):
    # The mid-run probe lands at the phase-1/phase-2 boundary via the
    # optional sink, and the 3-tuple return contract is unchanged.
    specs = {f"k{i}": _FakeSpec(f"k{i}", _good) for i in range(2)}
    mid: dict = {}
    timings, passes, errors = bench.time_queries(
        spark, specs, str(tmp_path), mid_sink=mid
    )
    assert errors == {} and set(timings) == set(specs)
    assert {"write_mbps", "cpu_probe_sec", "cpu_probe_mt_sec"} <= set(mid)


def test_prior_records_and_probes_filter_to_same_cpu(tmp_path):
    # VERDICT r12 item 6: the driver's 8-core scaling leg was archived
    # under the next-round numbering rule, so records/probe history must
    # come only from SAME-cpu archives — a faster 8-core timing (or
    # probe) must never tighten a 32-core record.  Archives predating
    # the `cpus` stamp count as 32-core.
    import json
    import os

    def write(name, cpus, key_sec, probe):
        d = {
            "queries": {"k": key_sec},
            "io_probe_pre": {"cpu_probe_sec": probe, "cpu_probe_mt_sec": probe},
        }
        if cpus is not None:
            d["cpus"] = cpus
        with open(os.path.join(tmp_path, name), "w") as f:
            json.dump(d, f)

    write("BENCH_DETAIL_r11.json", None, 2.0, 0.9)   # pre-stamp -> 32
    write("BENCH_DETAIL_r12.json", 32, 1.5, 0.8)
    write("BENCH_DETAIL_r13.json", 8, 0.3, 0.1)      # 8-core leg: faster

    rec32 = bench.prior_records(str(tmp_path), 32)
    assert rec32 == {"k": 1.5}  # the 8-core 0.3 never defines the record
    rec8 = bench.prior_records(str(tmp_path), 8)
    assert rec8 == {"k": 0.3}
    probes32 = bench.prior_probes(str(tmp_path), 32)
    assert probes32 == {"cpu_probe_sec": 0.8, "cpu_probe_mt_sec": 0.8}
    probes8 = bench.prior_probes(str(tmp_path), 8)
    assert probes8 == {"cpu_probe_sec": 0.1, "cpu_probe_mt_sec": 0.1}
