"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, harness, loadgen, run, workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _fake_result(**kw) -> workloads.Result:
    res = workloads.Result(
        cold_s=2.0, passes=[(False, 1.3), (True, 1.1), (False, 1.0)])
    for k, v in kw.items():
        setattr(res, k, v)
    return res


SETUP = {"setup_s": 8.0, "get_spark_s": 6.0, "load_all_plans_s": 0.1}


def _layer_pass():
    from collections import defaultdict

    return defaultdict(float, pass_s=1.0)


def test_metric_names_match_the_contract():
    """Every metric either output can print is well named, and the two
    sets are exactly what BENCHMARK.json declares."""
    e2e = run.end_to_end(_fake_result(), SETUP)
    layer = run.per_layer(_fake_result(), [_layer_pass()], SETUP, 4, 2**30)
    for name in [*e2e, *layer]:
        assert NAME.fullmatch(name), name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == set(e2e)
    assert {m["name"] for m in spec["per_layer"]} == set(layer)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert all(units[k] == u for k, (_, u) in {**e2e, **layer}.items())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("seed", [1, 2])
def test_traced_run_alternates(seed):
    """A traced run alternates traced and untraced passes, and which
    comes first turns with the seed."""
    flags = [workloads.traces_pass(True, seed, i) for i in range(4)]
    assert flags == ([True, False] * 2 if seed % 2 == 1 else [False, True] * 2)
    assert not any(workloads.traces_pass(False, seed, i) for i in range(4))
    res = _fake_result(passes=[(f, 1.0 + f) for f in flags])
    layer = run.per_layer(res, [_layer_pass()], SETUP, 4, 2**30)
    assert layer["trace_overhead_ratio"][0] == pytest.approx(2.0)


def test_warmup_pass_runs_untimed_before_the_window():
    """The warm-up pass runs first and untraced, is left out of the
    timed passes, and every pass gets its own index (the passes name
    their output directories by it)."""
    ran = []
    tracer = types.SimpleNamespace(traced=True, end_pass=lambda wall: None)
    ctx = types.SimpleNamespace(tracer=tracer, seed=1, seconds=0.0)

    def one_pass(i):
        ran.append((i, tracer.traced))
        return [0.5]

    passes, steps = workloads.steady_passes(ctx, one_pass, False)
    assert ran == [(1, False), (2, False), (3, False)]
    assert len(passes) == 2 and steps == [0.5, 0.5]


def _write_sink(sink, batches, seed):
    """An exactly-once sink as the program writes it: one parquet
    directory per batch plus a commit marker."""
    os.makedirs(os.path.join(sink, "_commits"))
    for b, rows in enumerate(batches):
        cols = list(zip(*rows))
        table = pa.table({
            "event_id": pa.array([str(x) for x in cols[0]]),
            "user_id": pa.array([str(x) for x in cols[1]]),
            "event_type": pa.array(cols[2]),
            "value": pa.array(cols[3], pa.float64()),
            "k": pa.array(cols[4], pa.int32()),
            "hour": pa.array(cols[5], pa.int32()),
        })
        os.makedirs(os.path.join(sink, f"batch={b}"))
        pq.write_table(table, os.path.join(sink, f"batch={b}", "part-0.parquet"))
        open(os.path.join(sink, "_commits", str(b)), "w").close()


@pytest.mark.parametrize("corrupt", ["none", "value", "duplicate", "missing"])
def test_corrupted_stream_row_is_a_failure(tmp_path, corrupt):
    seed, per_file = 7, 5
    files = [datagen.event_records(seed, f * per_file, per_file) for f in range(3)]
    rows = [r for f in files for r in f]
    if corrupt == "value":
        e, u, t, v, k, h = rows[7]
        rows[7] = (e, u, t, v + 0.01, k, h)
    elif corrupt == "duplicate":
        rows.append(rows[3])
    elif corrupt == "missing":
        rows.pop()
    sink = str(tmp_path / "sink")
    _write_sink(sink, [rows[:8], rows[8:]], seed)
    bad, batch_of = workloads.check_sink(seed, sink, 0, 3, per_file)
    assert bad == (0 if corrupt == "none" else 1)
    assert batch_of[0] == 0 and batch_of[2] == 1


def test_corrupted_pipeline_row_is_a_failure(tmp_path):
    """A pipeline output row that differs from the DuckDB oracle fails
    the check, for small (tolerant) and large (exact) outputs alike."""
    import duckdb

    cat = str(tmp_path / "cat")
    os.makedirs(cat)
    n = 6000
    pq.write_table(pa.table({"x": list(range(n)), "y": [i * 0.5 for i in range(n)]}),
                   f"{cat}/t.parquet")
    registry = types.SimpleNamespace(ORACLES={
        "small": "SELECT x, y FROM t WHERE x < 10", "large": "SELECT x, y FROM t",
    })
    ctx = types.SimpleNamespace(registry=registry)
    jobs = {}
    for name, rows in (("small", 10), ("large", n)):
        path = tmp_path / "out" / name
        path.mkdir(parents=True)
        jobs[name] = {"path": str(path), "rows": rows}
    con = workloads.duck(cat)

    def write(corrupt: bool):
        for name, job in jobs.items():
            y = [i * 0.5 for i in range(job["rows"])]
            if corrupt:
                y[3] += 1.0
            pq.write_table(pa.table({"x": list(range(job["rows"])), "y": y}),
                           f"{job['path']}/part-0.parquet")

    manifests = [{"jobs": jobs}]
    write(corrupt=False)
    assert workloads.check_pipeline(ctx, manifests, con) == []
    write(corrupt=True)
    assert workloads.check_pipeline(ctx, manifests, con) == [
        "run_pipeline:small", "run_pipeline:large"]
    assert isinstance(con, duckdb.DuckDBPyConnection)


def test_same_rows_tolerates_only_summation_noise():
    a = [("x", 25173175.65, 1), ("y", 0.5, 2)]
    assert harness.same_rows(["k", "v", "n"], a, ["n", "k", "v"],
                             [(2, "y", 0.5), (1, "x", 25173175.64)])
    assert not harness.same_rows(["k", "v", "n"], a, ["k", "v", "n"],
                                 [("x", 25173175.65, 1), ("y", 0.51, 2)])
    assert not harness.same_rows(["k", "v", "n"], a, ["k", "v", "n"], a[:1])


def test_generator_is_byte_identical_per_seed(tmp_path):
    def generate(out, seed):
        datagen.write_catalog(str(out / "cat"), seed, sf=0.001, n_docs=50, n_vecs=20)
        os.makedirs(out / "src")
        assert loadgen.main([
            "--src", str(out / "src"), "--manifest", str(out / "sched.json"),
            "--seed", str(seed), "--rate", "1000", "--files", "3", "--events", "20",
            "--t0", "0",
        ]) == 0
        return {
            os.path.relpath(os.path.join(d, f), out): open(os.path.join(d, f), "rb").read()
            for sub in ("cat", "src") for d, _, fs in os.walk(out / sub) for f in fs
        }

    a = generate(tmp_path / "a", 3)
    b = generate(tmp_path / "b", 3)
    c = generate(tmp_path / "c", 4)
    assert len(a) == 13 and a == b
    assert all(a[k] != c[k] for k in a if "region" not in k and "nation" not in k)


def test_open_loop_schedule_ignores_a_stalled_consumer():
    """A write that blocks for five slots (a stalled consumer holding
    the filesystem, say) shifts no due time: the files due meanwhile
    land at once when it returns, and later files land on schedule."""
    now = [100.0]
    due = loadgen.due_times(100.0, 10.0, 12)

    def write(i):
        if i == 2:
            now[0] += 0.5  # stall for five intervals

    def sleep(dt):
        now[0] += dt

    landed = loadgen.land(due, write, clock=lambda: now[0], sleep=sleep)
    assert due == pytest.approx([100.0 + i / 10 for i in range(12)])
    assert landed[2] == pytest.approx(100.7)
    assert landed[3:7] == pytest.approx([100.7] * 4)  # caught up, not shifted
    assert landed[7:] == pytest.approx(due[7:])


def test_open_loop_generator_lands_on_schedule(tmp_path):
    """The real generator process, with nothing consuming its files,
    lands every file within a few milliseconds of its due time."""
    import subprocess
    import time

    src = tmp_path / "src"
    src.mkdir()
    t0 = time.time() + 0.3
    subprocess.run([
        sys.executable, os.path.join(ROOT, "perfbench", "loadgen.py"),
        "--src", str(src), "--manifest", str(tmp_path / "s.json"), "--seed", "1",
        "--rate", "50", "--files", "25", "--events", "10", "--t0", str(t0),
    ], check=True, timeout=60)
    sched = json.loads((tmp_path / "s.json").read_text())
    assert sched["due"] == pytest.approx([t0 + i / 50 for i in range(25)])
    lags = [land - due for land, due in zip(sched["landed"], sched["due"])]
    assert min(lags) >= 0 and max(lags) < 0.05
    assert sorted(os.listdir(src)) == [f"events-{i:06d}.json" for i in range(25)]
