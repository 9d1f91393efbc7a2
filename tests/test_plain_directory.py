"""A log directory with no manifest yet (raw parquet dumps, externally
written logs) is generation -1 of the one manifest format: its file list
is the directory listing, and every layer resolves it through the same
path as any published generation."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from eventstore_spark import manifest as M
from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.schema import EVENTS_SCHEMA
from eventstore_spark.streaming.subscriptions import subscription_backlog
from eventstore_spark.writer import ProposedEvent

_T = datetime(2026, 1, 1, tzinfo=timezone.utc)
_FILES = [
    [(1, "orders-1", "orders", 0, "o1", "Placed", '{"n": 1}', None, _T, True),
     (2, "users-1", "users", 0, "u1", "Signed", '{"n": 2}', None, _T, True)],
    [(3, "orders-1", "orders", 1, "o2", "Shipped", '{"n": 3}', None, _T, True)],
]


@pytest.fixture()
def raw_dir(spark, tmp_path) -> str:
    """Two parquet files written straight into a directory by Spark."""
    path = str(tmp_path / "raw")
    for rows in _FILES:
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(path)
    assert M.history(path) == [] and len(M.data_files(path)) == 2
    return path


def _ids(df) -> list[str]:
    return sorted(r.event_id for r in df.select("event_id").collect())


def test_engine_reads_the_listing(spark, raw_dir):
    eng = EventStoreEngine(spark, raw_dir)
    try:
        assert M.latest(raw_dir) == (-1, M.data_files(raw_dir))
        assert _ids(eng.events()) == ["o1", "o2", "u1"]
        page = eng.read_stream_page("orders-1")
        assert [r.event_id for r in page.events.collect()] == ["o1", "o2"]
        assert page.last_event_number == 1
    finally:
        eng.close()


def test_first_append_publishes_listing_plus_commit(spark, raw_dir):
    listing = M.data_files(raw_dir)
    eng = EventStoreEngine(spark, raw_dir)
    try:
        assert eng.append("orders-1", [ProposedEvent("Paid", "{}")],
                          expected_version=1) == 2
        seq, files = M.latest(raw_dir)
        assert seq == 0
        assert set(listing) < set(files) and len(files) == len(listing) + 1
        rows = eng.read_stream("orders-1").orderBy("event_number").collect()
        assert [(r.event_number, r.log_position) for r in rows] == [
            (0, 1), (1, 3), (2, 4)]
    finally:
        eng.close()


def test_optimize_layout_publishes_from_the_listing(spark, raw_dir):
    eng = EventStoreEngine(spark, raw_dir)
    try:
        assert eng.optimize_layout(target_files=1)["events"] == 3
        seq, files = M.latest(raw_dir)
        assert seq == 0 and all(f.startswith("part-optimize-") for f in files)
        assert _ids(eng.events()) == ["o1", "o2", "u1"]
    finally:
        eng.close()


def test_archive_and_backup_refuse_without_a_manifest(spark, raw_dir,
                                                      tmp_path):
    eng = EventStoreEngine(spark, raw_dir)
    try:
        with pytest.raises(ValueError, match="no manifest"):
            eng.archive_cold(str(tmp_path / "cold"), keep_files=0)
        with pytest.raises(ValueError, match="no manifest"):
            eng.backup(str(tmp_path / "bak"))
        assert M.history(raw_dir) == []
    finally:
        eng.close()


def test_vacuum_is_a_noop(spark, raw_dir):
    listing = M.data_files(raw_dir)
    eng = EventStoreEngine(spark, raw_dir)
    try:
        assert eng.vacuum(grace_s=0) == {
            "removed": 0, "manifests_removed": 0, "archive_removed": 0}
        assert M.data_files(raw_dir) == listing
    finally:
        eng.close()


def test_subscription_backlog_counts_the_listing(raw_dir, tmp_path):
    backlog = subscription_backlog(raw_dir, str(tmp_path / "ckpt"))
    assert backlog["pending_files"] == 2 and backlog["fell_behind"]
    assert M.history(raw_dir) == []
