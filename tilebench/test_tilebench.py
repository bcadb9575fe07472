"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest tilebench/ -q
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tilebench import inputs, run, stages, workloads  # noqa: E402


def test_same_seed_same_inputs():
    a = inputs.frame_digest(inputs.images(7, 500, with_bytes=True))
    b = inputs.frame_digest(inputs.images(7, 500, with_bytes=True))
    assert a == b
    assert (inputs.frame_digest(inputs.probes(7, 500))
            == inputs.frame_digest(inputs.probes(7, 500)))
    p = inputs.frame_digest(inputs.polygons(7, 20, 1, 200, 0.05))
    q = inputs.frame_digest(inputs.polygons(7, 20, 1, 200, 0.05))
    assert p == q


def test_other_seed_other_inputs():
    assert (inputs.frame_digest(inputs.images(7, 500, with_bytes=False))
            != inputs.frame_digest(inputs.images(8, 500, with_bytes=False)))
    assert (inputs.frame_digest(inputs.polygons(7, 20, 1, 200, 0.05))
            != inputs.frame_digest(inputs.polygons(8, 20, 1, 200, 0.05)))
    assert (inputs.frame_digest(inputs.probes(7, 500))
            != inputs.frame_digest(inputs.probes(8, 500)))
    assert not set(inputs.image_ids(7, 100)) & set(inputs.image_ids(8, 100))


def test_probes_are_the_images_anchors():
    assert (inputs.probes(7, 500)["phash"].to_numpy()
            == inputs.images(7, 500, with_bytes=False)["phash"].to_numpy()).all()


def test_large_polygons_are_simple_rings():
    from planetiler_spark.kernels import geom as gk
    polys = inputs.polygons(3, 4, 2, 400, 0.05)
    for wkb in polys["wkb"]:
        typ, rings = gk.parse_wkb(bytes(wkb))
        assert typ == "polygon"
        assert not gk.polygon_self_intersects(rings)


def _task(stage, launch, finish, **m):
    metrics = {
        "Executor Run Time": m.get("run", finish - launch),
        "Executor CPU Time": 0, "JVM GC Time": m.get("gc", 0),
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": m.get("spill", 0),
        "Input Metrics": {"Records Read": m.get("in_rows", 0),
                          "Bytes Read": m.get("in_bytes", 0)},
        "Shuffle Read Metrics": {"Total Records Read": m.get("r_rows", 0),
                                 "Local Bytes Read": m.get("r_bytes", 0),
                                 "Remote Bytes Read": 0,
                                 "Fetch Wait Time": m.get("wait", 0)},
        "Shuffle Write Metrics": {"Shuffle Records Written": m.get("w_rows", 0),
                                  "Shuffle Bytes Written": m.get("w_bytes", 0),
                                  "Shuffle Write Time": m.get("w_ns", 0)},
    }
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": False, "Killed": False},
            "Task Metrics": metrics}


def _stage(sid, parents, sent=0, received=0):
    acc = [{"Name": stages.PY_SENT, "Value": sent},
           {"Name": stages.PY_RECEIVED, "Value": received}]
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Parent IDs": parents,
                           "Accumulables": acc}}


def canned_log():
    """One repetition (job 1, 'rep0') from 10.000 s to 20.000 s: a SQL
    execution 10.1-19.7 s, a render stage 10.5-14 s feeding a two-task
    reduce stage 15-19 s, plus an untagged job that must be ignored."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 9000,
         "Stage IDs": [0], "Properties": {}},
        _task(0, 9000, 9500),
        _stage(0, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 9600},
        {"Event": stages.SQL_START, "executionId": 0, "time": 10100},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10200,
         "Stage IDs": [1, 2], "Properties": {"spark.job.description": "rep0"}},
        _task(1, 10500, 14000, in_rows=100, in_bytes=1000, w_rows=1500,
              w_bytes=60000, w_ns=2_000_000_000, gc=100),
        _task(1, 10500, 13000, in_rows=100, in_bytes=1000, w_rows=500,
              w_bytes=20000, w_ns=1_000_000_000),
        _stage(1, [], sent=5000, received=8000),
        _task(2, 15000, 19000, r_rows=1500, r_bytes=60000, wait=300),
        _task(2, 15000, 16000, r_rows=500, r_bytes=20000, wait=100, spill=7),
        _stage(2, [1], sent=3000, received=900),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 19500},
        {"Event": stages.SQL_END, "executionId": 0, "time": 19700},
        "not json",
    ]
    return [json.dumps(e) if not isinstance(e, str) else e for e in ev]


def test_stage_parser_on_canned_event_log():
    log = stages.parse_events(canned_log())
    assert sorted(log.stages) == [0, 1, 2]
    bd = stages.rep_breakdown(log, "rep0", 10.0, 20.0)
    assert [s.stage_id for s in bd["stages"]] == [1, 2]
    assert bd["stage_s"] == pytest.approx(7.5)          # 10.5-14 + 15-19
    assert bd["driver_gap_s"] == pytest.approx(2.1)     # SQL window 10.1-19.7
    assert bd["coverage"] == pytest.approx(0.96)
    m = stages.layer_metrics(bd["stages"])
    assert m["render.task_s"] == pytest.approx(6.0)
    assert m["render.rows_out"] == 2000
    assert m["render.fanout"] == pytest.approx(10.0)
    assert m["exchange.write_bytes"] == 80000
    assert m["exchange.write_s"] == pytest.approx(3.0)
    assert m["exchange.fetch_wait_s"] == pytest.approx(0.4)
    assert m["exchange.skew_max_over_median"] == pytest.approx(1.0)
    assert m["reduce.task_s"] == pytest.approx(5.0)
    assert m["reduce.tail_s"] == pytest.approx(3.0)
    assert m["python.rows_sent"] == 200 + 2000
    assert m["python.bytes_sent"] == 8000
    assert m["python.bytes_received"] == 8900
    assert m["sources.scan_rows"] == 200
    assert m["jvm.gc_s"] == pytest.approx(0.1)
    assert m["spill.bytes"] == 7


def test_named_driver_span_counts_as_covered():
    log = stages.parse_events(canned_log())
    bd = stages.rep_breakdown(log, "rep0", 10.0, 20.0, [(19.5, 20.0)])
    assert bd["coverage"] == pytest.approx(0.99)


def test_corrupted_tile_fails_output_check():
    tiles = {(z, x, 0): bytes([z, x]) * 40 for z in range(4) for x in range(3)}
    good = inputs.tiles_digest(tiles.items())
    assert inputs.tiles_digest(reversed(list(tiles.items()))) == good
    bad = dict(tiles)
    blob = bytearray(bad[(2, 1, 0)])
    blob[5] ^= 1
    bad[(2, 1, 0)] = bytes(blob)
    corrupt = inputs.tiles_digest(bad.items())
    assert corrupt[0] == good[0] and corrupt != good
    assert run.rep_error(corrupt, good, None) is not None
    assert run.rep_error(good, good, good) is None
    assert run.rep_error(good, None, corrupt) is not None


def test_verify_summary_check():
    assert workloads.verify_error(10, 10, 10, 10) is None
    assert workloads.verify_error(10, 9, 10, 10) is not None
    assert workloads.verify_error(9, 9, 9, 10) is not None


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_high_percentile_needs_ten_samples_beyond():
    assert run.high_percentile([3.0, 1.0, 2.0]) == ("max", 3.0)
    label, _ = run.high_percentile([float(i) for i in range(40)])
    assert label == "p75"
