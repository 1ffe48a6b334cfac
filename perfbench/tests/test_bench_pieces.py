"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import math
import os

import numpy as np
import pytest

from perfbench import eventlog, inputs, reference
from perfbench.trace import (
    Span, Tracer, process_tree, self_times, tail_percentile, tree_cpu_seconds,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile rule ---------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None  # nothing has 10 beyond it
    p, v = tail_percentile(list(range(1, 21)))  # n=20: p50 (rank 10) leaves 10
    assert (p, v) == (50.0, 10)


def test_tail_picks_highest_qualifying_percentile():
    xs = list(range(1, 1001))
    # p99 is rank 990 with exactly 10 samples beyond; p99.9 leaves only 1
    assert tail_percentile(xs) == (99.0, 990)
    assert tail_percentile(xs[:200]) == (95.0, 190)
    assert tail_percentile(list(reversed(xs[:200]))) == (95.0, 190)  # order-free


# -- self time --------------------------------------------------------------

def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, 0)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        _span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span("leaf", 1.5, 2.0, parent=1),  # grandchild: only a's concern
    ]
    own = self_times(spans)
    assert math.isclose(own["op"], 10.0 - 5.0 - 2.0)
    assert math.isclose(own["a"], 3.0 - 0.5)
    assert math.isclose(own["b"], 3.0)
    assert math.isclose(own["leaf"], 0.5)


def test_self_time_sums_repeated_names():
    spans = [_span("x", 0.0, 1.0), _span("x", 2.0, 4.0)]
    assert math.isclose(self_times(spans)["x"], 3.0)


def test_tracer_records_nesting_only_when_enabled():
    off = Tracer(enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []
    on = Tracer(enabled=True)
    with on.span("outer", 7):
        with on.span("inner", 7):
            pass
    outer, inner = on.spans
    assert inner.parent == 0 and outer.parent is None and inner.op_id == 7
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_process_tree_and_cpu_time_cover_children():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        tree = process_tree(os.getpid())
        assert (os.getpid(), 0) in tree and (child.pid, 1) in tree
    finally:
        child.kill()
        child.wait(timeout=10)
    c0 = tree_cpu_seconds()
    sum(i * i for i in range(3_000_000))
    assert tree_cpu_seconds() > c0


# -- GeoTIFF writer ---------------------------------------------------------

def test_geotiff_writer_reads_back_4326(tmp_path):
    from raquet_spark.sources.geotiff import read_geotiff
    from raquet_spark.sources.tiff_reader import read_tiff_structure

    rng = np.random.default_rng(3)
    grid = inputs.smooth_field(rng, 37, 53)
    path = str(tmp_path / "g.tif")
    inputs.write_geotiff(path, grid, (10.0, 45.0), 0.01, inputs.geographic_keys(), nodata=-999)
    info = read_tiff_structure(path)
    assert (info["width"], info["height"], info["epsg"]) == (53, 37, 4326)
    assert np.dtype(info["dtype"]) == np.dtype("<i2")
    assert info["nodata"] == -999
    ox, sx, rx, oy, ry, sy = info["transform"]
    assert (ox, sx, rx, oy, ry, sy) == pytest.approx((10.0, 0.01, 0.0, 45.0, 0.0, -0.01))
    arr, _ = read_geotiff(path)
    assert np.array_equal(arr.reshape(grid.shape), grid)


def test_geotiff_writer_reads_back_utm(tmp_path):
    from raquet_spark.sources.tiff_reader import read_tiff_structure

    path = str(tmp_path / "u.tif")
    grid = inputs.smooth_field(np.random.default_rng(4), 16, 16)
    inputs.write_geotiff(path, grid, (500000.0, 5000000.0), 30.0, inputs.utm_keys(32633))
    info = read_tiff_structure(path)
    assert info["epsg"] == 32633
    assert info["transform"][0] == 500000.0 and info["transform"][3] == 5000000.0
    with pytest.raises(ValueError):
        inputs.utm_keys(4326)


def test_smooth_field_is_seeded():
    a = inputs.smooth_field(np.random.default_rng(9), 8, 8)
    b = inputs.smooth_field(np.random.default_rng(9), 8, 8)
    assert a.dtype == np.dtype("<i2") and np.array_equal(a, b)


# -- numpy references -------------------------------------------------------

def test_utm_forward_on_central_meridian():
    # 45°N on zone 32's central meridian (9°E): the published meridian
    # arc value times k0 = 0.9996
    e, n = reference.utm_forward(9.0, 45.0, 32)
    assert e == pytest.approx(500000.0, abs=1e-6)
    assert n == pytest.approx(4982950.4, abs=0.1)


def test_nearest_index_tolerates_edges():
    (inside,), (edge,), (out,) = (
        reference.nearest_source_index([2.5], [1.5], (4, 4)),
        reference.nearest_source_index([2.0 + 1e-9], [1.5], (4, 4)),
        reference.nearest_source_index([-0.5], [1.5], (4, 4)),
    )
    assert inside == [(1, 2)]
    assert sorted(edge) == [(1, 1), (1, 2)]
    assert out == []


def test_pixel_centre_round_trips_through_tiling():
    lon, lat = reference.pixel_center_lonlat(11, 256, 1000 * 256 + 17, 700 * 256 + 200)
    gx, gy = reference.lonlat_to_global_pixel(lon, lat, 11, 256)
    assert (int(gx), int(gy)) == (1000 * 256 + 17, 700 * 256 + 200)
    assert reference.lonlat_to_tile(float(lon), float(lat), 11) == (1000, 700)


# -- event-log folding ------------------------------------------------------

def _task(stage, run_ms, cpu_ns, py_ms=None, shuffle=0, spill=0, records=0):
    acc = [] if py_ms is None else [{"Name": "time to run Python workers", "Update": str(py_ms)}]
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": records},
        },
    })


def _job(job, stages, desc):
    props = {"spark.job.description": desc} if desc else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job,
                       "Stage IDs": stages, "Properties": props})


def test_fold_groups_tasks_by_job_description():
    lines = [
        _job(0, [0, 1], "import.geotiff4326.build"),
        _task(0, 100, 50_000_000, py_ms=80, records=10),
        _task(1, 300, 0, shuffle=2048),
        _job(1, [1, 2], "pyramid.build"),  # stage 1 stays with job 0
        _task(2, 1000, 1_000_000_000, spill=7),
        _job(2, [3], None),
        _task(3, 1, 0),
        "",
    ]
    out = eventlog.fold(lines, group=lambda d: d.split(".")[0])
    imp, pyr, other = out["import"], out["pyramid"], out[eventlog.UNKNOWN]
    assert imp["tasks"] == 2 and imp["task_run_s"] == pytest.approx(0.4)
    assert imp["task_cpu_s"] == pytest.approx(0.05)
    assert imp["python_s"] == pytest.approx(0.08)
    assert imp["shuffle_bytes"] == 2048 and imp["records_read"] == 10
    assert imp["gc_s"] == pytest.approx(0.01)
    assert pyr["task_cpu_s"] == pytest.approx(1.0) and pyr["spill_bytes"] == 7
    assert other["tasks"] == 1


def test_fold_reads_a_directory(tmp_path):
    (tmp_path / "app-1").write_text(_job(0, [0], "x.y") + "\n" + _task(0, 10, 0) + "\n")
    (tmp_path / ".app-1.crc").write_text("not json")
    assert eventlog.fold(eventlog.read_dir(str(tmp_path)))["x.y"]["tasks"] == 1


# -- warm-up reset ----------------------------------------------------------

def test_reset_forgets_warmup_but_keeps_its_failures():
    from perfbench.harness import Bench

    b = Bench(None, Tracer(enabled=True), log=io.StringIO())
    b.warmup = True
    with b.op("ok"):
        pass
    with b.op("boom"):
        raise RuntimeError("warm-up failure")
    b.seconds["x"].append(1.0)
    b.reset()
    assert (b.attempted, b.failed, b.warmup, dict(b.seconds), b.tracer.spans) == (1, 1, False, {}, [])
    with b.op("after") as op_id:
        pass
    assert op_id == 3 and (b.attempted, b.failed) == (2, 1)


# -- the ann_lsh check ------------------------------------------------------

def _exact_ann(t, k):
    """Brute-force top-k rows for the sampled queries, ann_lsh's shape."""
    import pyarrow as pa

    ids = t.column("vec_id").to_numpy()
    v = np.array(t.column("embedding").to_pylist(), np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = []
    for i in np.flatnonzero(ids % 25 == 0):
        cos = v @ v[i]
        cos[i] = -np.inf
        for rn, j in enumerate(np.argsort(-cos, kind="stable")[:k], 1):
            rows.append({"query_id": int(ids[i]), "cand_id": int(ids[j]), "score": float(cos[j]), "rn": rn})
    return pa.Table.from_pylist(rows)


def test_ann_check_needs_every_sampled_query_ranked(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.curate import ANN_K, Curate
    from perfbench.harness import Bench

    cur = Curate(Bench(None, Tracer(), log=io.StringIO()), str(tmp_path), seed=3)
    cur.synthesize()
    exact = _exact_ann(pq.read_table(os.path.join(cur.data_dir, "embeddings.parquet")), ANN_K)
    assert cur._check_ann(exact) is None
    assert "queries answered" in cur._check_ann(exact.slice(0, exact.num_rows - ANN_K))
    assert "queries answered" in cur._check_ann(exact.slice(0, 0))
    assert "ranks" in cur._check_ann(exact.slice(1))
    swapped = exact.to_pylist()
    swapped[0]["rn"], swapped[1]["rn"] = 2, 1
    assert "rank order" in cur._check_ann(pa.Table.from_pylist(swapped))


# -- BENCHMARK.json stays in step with the code ------------------------------

def test_benchmark_json_matches_metric_lists():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
