"""Reads resolve each log generation once: ``writer.load()`` returns one
DataFrame per generation (keyed by the resolved file paths) and
``engine.events()`` collects the metadata dimension once per generation.
These tests pin the equivalence with the lazy per-action derivation, the
cache key (archiving moves files under the same names), the cache
lifetime (close, failures), thread safety and the per-read job count."""

from __future__ import annotations

import json
import sys
import threading
from datetime import datetime, timedelta, timezone

import pytest

from eventstore_spark import manifest
from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.operators.retention import visible_events
from eventstore_spark.schema import EVENTS_SCHEMA, METASTREAM_PREFIX
from eventstore_spark.writer import EventLogWriter, ProposedEvent


def _rows(df) -> list[tuple]:
    return sorted(
        (r.log_position, r.stream_id, r.event_number, r.data)
        for r in df.select("log_position", "stream_id", "event_number",
                           "data").collect()
    )


def _lazy_visible(eng: EventStoreEngine, df):
    """The per-action derivation: visibility re-derived from ``df``
    inside the plan, as every read did before the per-generation table."""
    user = df.where(~df.stream_id.startswith(METASTREAM_PREFIX))
    return visible_events(user, eng.stream_metadata(df))


def _ev(i) -> ProposedEvent:
    return ProposedEvent("E", f'{{"i": {i}}}')


@pytest.fixture()
def retention_store(spark, tmp_path):
    """One store covering every visibility rule: $maxCount, $maxAge (one
    stream backdated past it, one inside it), $tb, a soft delete plus
    recreate, a hard delete, and ACL-only / $tmp-only metadata."""
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    old = datetime.now(timezone.utc) - timedelta(hours=2)
    eng.append("mc-1", [_ev(i) for i in range(5)])
    eng.set_stream_metadata("mc-1", max_count=2)
    eng.writer.append("aged-1", [_ev(0), _ev(1)], created=old)
    eng.set_stream_metadata("aged-1", max_age_seconds=3600)
    eng.append("fresh-1", [_ev(0)])
    eng.set_stream_metadata("fresh-1", max_age_seconds=3600)
    eng.append("tb-1", [_ev(i) for i in range(4)])
    eng.set_stream_metadata("tb-1", truncate_before=2)
    eng.append("soft-1", [_ev(0), _ev(1)])
    eng.delete_stream("soft-1")
    eng.append("soft-1", [_ev(2)])  # recreate: numbering continues
    eng.append("hard-1", [_ev(0)])
    eng.delete_stream("hard-1", hard=True)
    eng.append("acl-1", [_ev(0)])
    eng.set_stream_metadata("acl-1", acl={"$r": "ops"})
    eng.append("tmp-1", [_ev(0)])
    eng.set_stream_metadata("tmp-1", temp=True)
    eng.append("plain-1", [_ev(0), _ev(1)])
    return eng


def test_visibility_table_matches_lazy_derivation(retention_store):
    eng = retention_store
    _, df = eng.writer.snapshot()
    got = _rows(eng.events())
    assert got == _rows(_lazy_visible(eng, df))
    by_stream = {}
    for _, sid, num, _ in got:
        by_stream.setdefault(sid, []).append(num)
    assert by_stream == {
        "mc-1": [3, 4], "fresh-1": [0], "tb-1": [2, 3], "soft-1": [2],
        "acl-1": [0], "tmp-1": [0], "plain-1": [0, 1],
    }
    # the dimension events() used is the one stream_metadata() serves
    md = {r.stream_id: r for r in eng.stream_metadata().collect()}
    assert md["hard-1"].tombstoned and json.loads(md["acl-1"].acl) == {"$r": "ops"}
    assert md["tmp-1"].is_temp and md["mc-1"].max_count == 2
    assert (sorted(map(tuple, eng.stream_metadata().collect()))
            == sorted(map(tuple, eng.stream_metadata(df).collect())))


def test_time_travel_gets_its_own_visibility(retention_store):
    eng = retention_store
    seq = eng.manifest_history()[-1]
    then = _rows(eng.events())
    eng.set_stream_metadata("plain-1", max_count=1)
    eng.delete_stream("acl-1", hard=True)
    now = _rows(eng.events())
    assert {(s, n) for _, s, n, _ in then} - {(s, n) for _, s, n, _ in now} == {
        ("plain-1", 0), ("acl-1", 0)}
    _, df = eng.writer.snapshot_at(seq)
    assert _rows(eng.events_at(seq)) == then == _rows(_lazy_visible(eng, df))
    # the older generation's table did not leak into the current read
    assert _rows(eng.events()) == now


def test_metadata_from_a_second_writer_shows_on_next_read(spark, tmp_path):
    """The cache is keyed by the generation, so metadata committed
    through another writer object or engine on the same directory shows
    up in this engine's next read."""
    path = str(tmp_path / "store")
    eng = EventStoreEngine(spark, path)
    eng.append("a-1", [_ev(i) for i in range(3)])
    assert len(_rows(eng.events())) == 3
    other = EventStoreEngine(spark, path)
    other.set_stream_metadata("a-1", max_count=1)
    assert [n for _, _, n, _ in _rows(eng.events())] == [2]
    EventLogWriter(spark, path).hard_delete("a-1")
    assert _rows(eng.events()) == []
    assert eng.stream_metadata().where("stream_id = 'a-1'").first().tombstoned


def test_one_dataframe_per_generation(spark, tmp_path):
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("a-1", [_ev(0)])
    first = eng.writer.load()
    assert eng.writer.load() is first
    eng.append("a-1", [_ev(1)])
    second = eng.writer.load()
    assert second is not first and second.count() == 2
    # time travel builds its own DataFrame and leaves the cache alone
    assert eng.writer.load_at(eng.manifest_history()[0]).count() == 1
    assert eng.writer.load() is second


def test_plain_directory_is_cached_per_listing(spark, tmp_path):
    """A directory with no manifest is generation -1: keyed on its
    listing like any generation, so one listing reads one DataFrame and
    a file added to the directory gives a new key and its rows."""
    path = tmp_path / "plain"
    rows = [(1, "a-1", "a", 0, "e1", "E", '{"i": 0}', None, None, True)]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(str(path))
    w = EventLogWriter(spark, str(path), read_only=True)
    key, first = w.snapshot()
    assert len(key) >= 1 and w.load() is first
    assert [r.event_id for r in first.collect()] == ["e1"]
    rows = [(2, "a-1", "a", 1, "e2", "E", '{"i": 1}', None, None, True)]
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(str(path))
    key2, second = w.snapshot()
    assert key2 != key and second is not first
    assert sorted(r.event_id for r in second.collect()) == ["e1", "e2"]


def test_archive_then_drop_local_reads_same_rows(spark, tmp_path):
    """Archiving keeps the manifest's file NAMES while the files move to
    the cold tier; a cache keyed on names would hand out a DataFrame over
    the dropped hot paths. Keyed on resolved paths, the read after the
    drop re-resolves and returns the same rows."""
    eng = EventStoreEngine(spark, str(tmp_path / "log"))
    for i in range(6):
        eng.append(f"acct-{i % 2}", [_ev(i)])
    eng.set_stream_metadata("acct-1", max_count=2)
    eng.archive_cold(str(tmp_path / "cold"), keep_files=2)
    before = _rows(eng.events())
    assert len(before) == 5
    assert eng.drop_archived_local(grace_s=0)["removed"] > 0
    assert _rows(eng.events()) == before
    assert eng.read_stream("acct-0").count() == 3


def test_close_drops_both_caches(spark, tmp_path):
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("a-1", [_ev(0)])
    eng.set_stream_metadata("a-1", max_count=1)
    eng.events().count()
    assert eng.writer._snapshot is not None and eng._metadata_cache is not None
    eng.close()
    assert eng.writer._snapshot is None and eng._metadata_cache is None
    assert eng.events().count() == 1  # reads keep working after close


def test_failed_load_or_collect_caches_nothing(spark, tmp_path, monkeypatch):
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("a-1", [_ev(0)])

    def boom(*_a, **_k):
        raise RuntimeError("injected")

    current = tuple(manifest.resolve(eng.path)[1])
    with monkeypatch.context() as m:
        m.setattr(manifest, "read_files", boom)
        with pytest.raises(RuntimeError):
            eng.events()
    # the first append may have cached the empty log; the generation
    # whose load failed must not be cached
    cached = eng.writer._snapshot
    assert cached is None or cached[0] != current
    with monkeypatch.context() as m:
        m.setattr(eng, "_derive_metadata", boom)
        with pytest.raises(RuntimeError):
            eng.events()
    assert eng._metadata_cache is None
    assert _rows(eng.events()) == [(1, "a-1", 0, '{"i": 0}')]


def test_concurrent_page_reads_across_appends(spark, tmp_path):
    """8 reader threads page streams while appends land: every page is
    the model's slice up to the head the page reports, and that head is
    never behind what was committed before the read began."""
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    streams = [f"s-{i}" for i in range(4)]
    for sid in streams:
        eng.append(sid, [ProposedEvent("E", f'{{"n": {n}}}') for n in range(3)])
    heads = {sid: 2 for sid in streams}
    heads_lock = threading.Lock()
    errors: list[str] = []

    def read(sid: str, start: int) -> None:
        with heads_lock:
            floor = heads[sid]
        page = eng.read_stream_page(sid, start, 4)
        got = [(r.event_number, r.data) for r in page.events.collect()]
        last = page.last_event_number
        want = [(n, f'{{"n": {n}}}')
                for n in range(start, min(start + 4, last + 1))]
        if got != want or last < floor:
            errors.append(f"{sid}@{start}: {got} vs {want}, head "
                          f"{last} < {floor}")

    def reader(t: int) -> None:
        for k in range(3):
            try:
                read(streams[(t + k) % len(streams)], (t + k) % 3)
            except Exception as e:  # a failed read must fail the test
                errors.append(repr(e))

    threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the cache checks and stores
    try:
        for th in threads:
            th.start()
        for i in range(6):
            sid = streams[i % len(streams)]
            n = eng.append(
                sid, [ProposedEvent("E", f'{{"n": {heads[sid] + 1}}}')])
            with heads_lock:
                heads[sid] = n
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []


def _jobs(spark, tag: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_page_read_job_count(spark, tmp_path):
    """A page read on a resolved generation of a 40-file store with no
    metadata is 4 Spark jobs for its two scalar aggregates and the page
    collect; it was 20 when every action re-derived the metadata join.
    Spark lists more than 32 explicit paths with a job; that listing
    runs once per generation, not once per read."""
    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(40):
        eng.append(f"s-{i % 8}", [_ev(i)])

    def page():
        p = eng.read_stream_page("s-3", 1, 3)
        return p.events.select("event_number", "event_id").collect()

    assert _jobs(spark, "first-load", eng.writer.load) >= 1  # the listing
    page()  # resolves the generation's (empty) visibility table
    assert _jobs(spark, "same-gen-load", eng.writer.load) == 0
    assert _jobs(spark, "page", page) == 4
    assert _jobs(spark, "page-again", page) == 4
