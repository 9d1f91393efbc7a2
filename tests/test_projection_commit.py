"""A onetime projection run folds once and commits once: the fold is
snapshotted (its reads never re-run it), every output lands in a single
append, and the snapshot is freed on every path that drops the result."""

from __future__ import annotations

import hashlib
import json
from datetime import datetime

import pytest

from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.projections.dsl import Projection
from eventstore_spark.writer import ProposedEvent


@pytest.fixture(scope="module", autouse=True)
def narrow_shuffle(spark):
    """Kilobyte folds: one shuffle partition per core instead of the
    session's 32 keeps each run to a few seconds."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _cached_rdds(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _job_count(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


@pytest.fixture(scope="module")
def one_run(spark, tmp_path_factory):
    """One run of a projection with every output kind: emit, outputState,
    foreachStream (partitions stream) and reorderEvents (order stream).
    Its `$init` bumps an accumulator once per partition per fold
    evaluation. Yields (engine, manifest generations before the run,
    accumulator)."""
    eng = EventStoreEngine(spark, str(tmp_path_factory.mktemp("onecommit")))
    # commit order inverts sens-b's created order (the reorder scenario)
    for sid, v, sec in (("sens-a", 1, 0), ("sens-b", 2, 3),
                        ("sens-a", 3, 2), ("sens-b", 4, 1)):
        eng.writer.append(sid, [ProposedEvent("M", json.dumps({"v": v}))],
                          created=datetime(2024, 1, 1, 0, 0, sec))
    acc = spark.sparkContext.accumulator(0)

    def init():
        acc.add(1)
        return {"n": 0}

    def h(s, e, ctx):
        ctx.emit("oc-out", "E", {"v": e["body"]["v"]})
        return {"n": s["n"] + 1}

    spec = (Projection.from_streams("sens-a", "sens-b", name="oc")
            .foreach_stream()
            .when({"$init": init, "$any": h})
            .options(reorderEvents=True, processingLag=500)
            .output_state())
    eng.create_projection(spec, emit_enabled=True)
    gens = len(eng.manifest_history())
    eng.run_projection("oc")
    yield eng, gens, acc
    eng.close()


def test_run_projection_folds_once(one_run):
    """The run's append, the caller's states.collect() and
    projection_state() all read the run's one fold: `$init` ran once per
    partition per run."""
    eng, _gens, acc = one_run
    states = {r.partition: json.loads(r.state)
              for r in eng.projections["oc"].last_result.states.collect()}
    assert states == {"sens-a": {"n": 2}, "sens-b": {"n": 2}}
    assert eng.projection_state("oc", "sens-b").collect()[0].state == '{"n": 2}'
    assert acc.value == 2 * eng.projections["oc"].runs


def test_run_projection_is_one_commit(one_run):
    """Emitted events, outputState results and the checkpoint, partitions
    and order bookkeeping streams land in ONE manifest generation, each
    stream numbered as when they were appended one by one."""
    eng, gens, _acc = one_run
    assert len(eng.manifest_history()) == gens + 1
    out: dict[str, list] = {}
    for r in eng.writer.load().orderBy("log_position").collect():
        out.setdefault(r.stream_id, []).append(
            (r.event_number, r.event_type, r.data))
    # emissions in fold order (source position, seq)
    assert out["oc-out"] == [(i, "E", json.dumps({"v": i + 1}))
                             for i in range(4)]
    # rows without a source order are numbered in event-id order
    state = json.dumps({"n": 2})
    ids = sorted(hashlib.md5(f"oc|{p}|{state}".encode()).hexdigest()
                 for p in ("sens-a", "sens-b"))
    assert [(r.event_number, r.event_id, r.data) for r in
            eng.read_stream("$projections-oc-result").collect()] == [
        (i, eid, state) for i, eid in enumerate(ids)]
    for p in ("sens-a", "sens-b"):
        assert out[f"$projections-oc-{p}-result"] == [(0, "Result", state)]
    assert out["$projections-oc-checkpoint"] == [
        (0, "$ProjectionCheckpoint", json.dumps({"lastPosition": 4}))]
    assert out["$projections-oc-partitions"] == [
        (0, "$partition", "sens-a"), (1, "$partition", "sens-b")]
    # replay order = (created, log_position), not commit order
    assert [d for _n, _t, d in out["$projections-oc-order"]] == [
        "0@sens-a", "1@sens-b", "1@sens-a", "0@sens-b"]
    assert set(eng._emitted_streams("oc")) == {
        "oc-out", "$projections-oc-result",
        "$projections-oc-sens-a-result", "$projections-oc-sens-b-result"}


def test_rerun_commits_nothing_and_frees_the_last_snapshot(spark, one_run):
    """A re-run with no new source events adds zero manifest generations,
    and its snapshot replaces (frees) the previous run's."""
    eng = one_run[0]

    def snapshot_rdd():
        raw = eng.projections["oc"].last_result.raw
        return raw._jdf.queryExecution().analyzed().rdd().id()

    old, gens = snapshot_rdd(), len(eng.manifest_history())
    eng.run_projection("oc")
    assert len(eng.manifest_history()) == gens
    cached = _cached_rdds(spark)
    assert old not in cached and snapshot_rdd() in cached


@pytest.mark.parametrize("path", ["reset", "update", "delete", "close",
                                  "fault"])
def test_projection_snapshot_is_released(spark, tmp_path, path):
    """The fold snapshot a run pins is freed when the result is dropped:
    by reset, update(reset=True), delete and close; a run that faults on
    emit_enabled keeps nothing materialized."""
    eng = EventStoreEngine(spark, str(tmp_path / "snap"))
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    before = _cached_rdds(spark)
    if path == "fault":
        def h(s, e, ctx):
            ctx.emit("out", "E", {})
            return s

        eng.create_projection(
            Projection.from_category("acct", name="snap")
            .when({"$init": lambda: {}, "$any": h}))
        with pytest.raises(RuntimeError, match="emit_enabled"):
            eng.run_projection("snap")
        assert eng.projections["snap"].last_result is None
    else:
        spec = (Projection.from_category("acct", name="snap")
                .foreach_stream()
                .when({"$init": lambda: {"n": 0},
                       "$any": lambda s, e: {"n": s["n"] + 1}}))
        eng.create_projection(spec)
        eng.run_projection("snap")
        assert _cached_rdds(spark) - before, "the run should pin its fold"
        if path == "reset":
            eng.reset_projection("snap")
        elif path == "update":
            eng.update_projection("snap", spec, reset=True)
        elif path == "delete":
            eng.delete_projection("snap")
    if path != "close":
        assert _cached_rdds(spark) == before
    eng.close()
    assert _cached_rdds(spark) == before


def test_continuous_sink_skips_empty_emissions(spark, tmp_path):
    """A continuous micro-batch that emits nothing reads its emitted
    stream set once and skips the log append (three Spark jobs, was six);
    one that emits appends and tracks the emitted stream."""
    eng = EventStoreEngine(spark, str(tmp_path / "live"))
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])

    def h(s, e, ctx):
        if e["body"]["v"] >= 50:
            ctx.emit("live-big", "Big", {"v": e["body"]["v"]})
        return {"n": s["n"] + 1}

    spec = (Projection.from_category("acct", name="live")
            .foreach_stream()
            .when({"$init": lambda: {"n": 0}, "$any": h}))
    eng.create_projection(spec, mode="continuous", emit_enabled=True)
    q = eng.run_projection("live", checkpoint_dir=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        eng.append("acct-1", [ProposedEvent("Op", '{"v": 2}')])
        jobs = _job_count(spark)
        q.processAllAvailable()
        assert _job_count(spark) - jobs <= 4
        eng.append("acct-1", [ProposedEvent("Op", '{"v": 50}')])
        q.processAllAvailable()
        assert [r.event_type for r in eng.read_stream("live-big").collect()] == ["Big"]
        assert eng._emitted_streams("live") == ["live-big"]
    finally:
        q.stop()
    eng.close()
