"""The pipeline's stage DAG: every stage starts only after the stages it
reads have finished, results keep declared order, `stop_after` runs a
declared-order prefix (and rejects unknown names before anything runs),
and a failing stage stops the pass without orphaning any unit — a clean
rerun resumes to the same lineage fingerprints as an uninterrupted pass."""

import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

import run_pipeline as RP  # noqa: E402

STAGES = [
    "ingest", "assign", "stats", "hotspot", "pyramid", "sketches", "polys",
    "pip", "dedup", "cluster", "export", "raster", "mvt", "mvt_pyramid",
]
# the stages each stage reads, written out independently of the table in
# run_pipeline so a dropped edge there shows up as an ordering failure
READS = {
    "ingest": [], "polys": [],
    "assign": ["ingest"], "hotspot": ["ingest"], "dedup": ["ingest"],
    "raster": ["ingest"], "mvt": ["ingest"],
    "stats": ["assign"], "sketches": ["assign"], "pyramid": ["stats"],
    "pip": ["ingest", "polys"], "cluster": ["ingest", "dedup"],
    "export": ["ingest", "cluster"], "mvt_pyramid": ["mvt"],
}
ARGS = dict(rows=600, zooms=[0, 1, 2, 3], verbose=False)


def lineage(out: str) -> list[dict]:
    path = os.path.join(out, "_lineage")
    if not os.path.isdir(path):
        return []
    files = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_"))]
    return pq.read_table(files).to_pylist() if files else []


def fingerprints(out: str) -> dict:
    return {(r["stage"], r["unit"]): (r["row_count"], r["fingerprint"]) for r in lineage(out)}


def unit_dirs(out: str, stage: str) -> list[str]:
    d = os.path.join(out, stage)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


@pytest.fixture(scope="module")
def full_pass(spark, tmp_path_factory):
    """One uninterrupted pass: its output dir, its results, and the frame
    each (stage, unit) was built as, captured around run_stage."""
    out = str(tmp_path_factory.mktemp("dag_full"))
    built = {}
    run_stage = RP.run_stage

    def capturing(spark, log, stage, units, build_unit, out_root=None):
        def build(unit):
            built[(stage, unit)] = build_unit(unit)
            return built[(stage, unit)]

        return run_stage(spark, log, stage, units, build, out_root)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(RP, "run_stage", capturing)
        res = RP.run_pipeline(spark, out, **ARGS)
    return out, res, built


def test_stages_start_after_their_inputs_finish(full_pass):
    out, _, _ = full_pass
    rows = lineage(out)
    first_start = {s: min(r["ts"] - r["wall_sec"] for r in rows if r["stage"] == s)
                   for s in STAGES}
    last_end = {s: max(r["ts"] for r in rows if r["stage"] == s) for s in STAGES}
    for stage, inputs in READS.items():
        for i in inputs:
            assert first_start[stage] >= last_end[i], (stage, i)
    # and the DAG is not run as a chain: some units of different stages
    # were in flight at the same time
    spans = sorted((r["ts"] - r["wall_sec"], r["ts"], r["stage"]) for r in rows)
    assert any(b[0] < a[1] and a[2] != b[2] for a, b in zip(spans, spans[1:]))


def test_results_keep_declared_order(full_pass):
    _, res, _ = full_pass
    assert list(res) == STAGES + ["_log"]
    assert all(res[s].ran_units and not res[s].skipped_units for s in STAGES)


def test_export_manifest_is_a_local_relation(full_pass):
    """The export manifest is built from pandas: with Arrow on it is a
    JVM-side LocalRelation, so its write starts no Python worker (a frame
    over a pickled Python RDD shows up as a LogicalRDD)."""
    _, _, built = full_pass
    plan = built[("export", "shards")]._jdf.queryExecution().analyzed().toString()
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan


def test_unknown_stop_after_raises_before_any_stage(spark, tmp_path):
    with pytest.raises(ValueError, match="not a stage"):
        RP.run_pipeline(spark, str(tmp_path), stop_after="pyramids", **ARGS)
    assert os.listdir(tmp_path) == []


def test_stop_after_stage_not_in_plan_stops_at_its_position(spark, tmp_path):
    # one zoom: the pyramid has no coarser level, so the stage has no
    # units — the run still ends where pyramid is declared
    out = str(tmp_path)
    res = RP.run_pipeline(spark, out, rows=300, zooms=[3], stop_after="pyramid",
                          verbose=False)
    assert list(res) == ["ingest", "assign", "stats", "hotspot"]
    assert {r["stage"] for r in lineage(out)} == set(res)
    assert unit_dirs(out, "pyramid") == [] and unit_dirs(out, "sketches") == []


def test_failed_stage_drains_then_rerun_matches(spark, tmp_path, monkeypatch, full_pass):
    out = str(tmp_path)

    def boom(*_a, **_k):
        raise RuntimeError("dedup failed")

    monkeypatch.setattr(RP, "minhash_lsh_pairs", boom)
    with pytest.raises(RuntimeError, match="dedup failed"):
        RP.run_pipeline(spark, out, **ARGS)
    monkeypatch.undo()

    logged = {(r["stage"], r["unit"]) for r in lineage(out)}
    # nothing downstream of the failure started: no unit dir, no row
    for stage in ("dedup", "cluster", "export"):
        assert [d for d in unit_dirs(out, stage) if d.startswith("unit=")] == [], stage
        assert not any(s == stage for s, _ in logged), stage
    # the stages started beside dedup ran to completion and logged every unit
    full_out, _, _ = full_pass
    full = fingerprints(full_out)
    for stage in ("ingest", "assign", "hotspot", "raster", "mvt"):
        want = {key for key in full if key[0] == stage}
        assert {key for key in logged if key[0] == stage} == want, stage
    # no unit was left half-done: every written unit has its lineage row
    for stage in STAGES:
        for d in unit_dirs(out, stage):
            assert not d.startswith("_tmp-"), (stage, d)
            if d.startswith("unit="):
                assert (stage, d[len("unit="):]) in logged, (stage, d)

    res = RP.run_pipeline(spark, out, **ARGS)
    assert res["hotspot"].ran_units == [] and res["hotspot"].skipped_units
    assert res["dedup"].ran_units == ["captions"]
    assert res["export"].ran_units == ["shards"]
    assert fingerprints(out) == full
    assert len(lineage(out)) == len(fingerprints(out))  # one row per unit


def _random_dag(n: int, fail: str | None = None):
    """n stages, each reading up to three earlier ones, that record
    start and finish and note any input not finished when they started."""
    rng = random.Random(5)
    lock = threading.Lock()
    started, finished = set(), set()
    plan = []
    for k in range(n):
        name = f"s{k}"
        inputs = tuple(f"s{j}" for j in rng.sample(range(k), min(k, rng.randint(0, 3))))
        delay = rng.random() * 0.01

        def fn(name=name, inputs=inputs, delay=delay):
            with lock:
                started.add(name)
                early = [i for i in inputs if i not in finished]
            time.sleep(delay)
            if name == fail:
                raise RuntimeError(f"{name} failed")
            with lock:
                finished.add(name)
            return early

        plan.append((name, inputs, fn))
    return plan, started, finished


def _run_bounded(spark, plan):
    """run_dag on a helper thread with a time bound, and more stages than
    cores with a short thread switch interval to shake out races."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(1) as ex:
            return ex.submit(RP.run_dag, spark, plan).result(timeout=120)
    finally:
        sys.setswitchinterval(old)


def test_run_dag_orders_every_stage_after_its_inputs(spark):
    plan, started, finished = _random_dag(60)
    res = _run_bounded(spark, plan)
    assert list(res) == [name for name, _, _ in plan]
    assert all(early == [] for early in res.values())
    assert started == finished == set(res)


def test_run_dag_failure_stops_descendants_and_drains(spark):
    plan, started, finished = _random_dag(60, fail="s7")
    downstream = {"s7"}
    for name, inputs, _ in plan:
        if downstream & set(inputs):
            downstream.add(name)
    with pytest.raises(RuntimeError, match="s7 failed"):
        _run_bounded(spark, plan)
    assert not started & (downstream - {"s7"})
    # every stage that started, other than the failed one, ran to the end
    assert started - {"s7"} == finished
