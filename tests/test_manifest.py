"""Manifest lifecycle unit tests (no Spark): the vacuum grace clock runs
from SUPERSESSION, not file creation, and retained generations keep their
files so time-travel reads stay resolvable."""

import os
import time

from eventstore_spark import manifest


def _touch(path, name, age_s=0.0):
    full = os.path.join(path, name)
    with open(full, "w") as f:
        f.write("x")
    if age_s:
        old = time.time() - age_s
        os.utime(full, (old, old))
    return full


def test_vacuum_grace_runs_from_supersession(tmp_path):
    path = str(tmp_path / "log")
    os.makedirs(path)
    a = _touch(path, "a.parquet")
    b = _touch(path, "b.parquet")
    manifest.append_files(path, ["a.parquet", "b.parquet"], base_seq=-1)
    # age the DATA files and manifest 0 a day: creation age must not matter
    day = time.time() - 86400
    for p in (a, b, os.path.join(path, "_manifest", "manifest-0000000000.json")):
        os.utime(p, (day, day))

    # a rewrite NOW supersedes them (manifest 1, fresh)
    _touch(path, "c.parquet")
    manifest.replace_snapshot(path, ["c.parquet"], base_seq=0)

    # grace 1h: superseded only milliseconds ago → day-old files SURVIVE,
    # and the superseded generation stays time-travel-resolvable
    res = manifest.vacuum(path, grace_s=3600)
    assert res == {"removed": 0, "manifests_removed": 0,
                   "archive_removed": 0}
    assert os.path.exists(a) and os.path.exists(b)
    assert manifest.files_at(path, 0) == ["a.parquet", "b.parquet"]

    # grace 0: generation 0 drains — its files and its manifest go, the
    # current generation is untouched
    res = manifest.vacuum(path, grace_s=0)
    assert res["removed"] == 2 and res["manifests_removed"] == 1
    assert not os.path.exists(a) and not os.path.exists(b)
    assert os.path.exists(os.path.join(path, "c.parquet"))
    assert manifest.history(path) == [1]
    assert manifest.files_at(path, 0) is None


def test_vacuum_keeps_files_shared_with_retained_generations(tmp_path):
    """A file referenced by BOTH a drained and a retained generation must
    survive (the keep-set is the union over retained manifests)."""
    path = str(tmp_path / "log")
    os.makedirs(path)
    shared = _touch(path, "shared.parquet", age_s=86400)
    only_old = _touch(path, "only_old.parquet", age_s=86400)
    manifest.append_files(path, ["shared.parquet", "only_old.parquet"],
                          base_seq=-1)
    day = time.time() - 86400
    os.utime(os.path.join(path, "_manifest", "manifest-0000000000.json"), (day, day))
    # generation 1 drops only_old but keeps shared; make it LOOK old too,
    # but current generations are always retained
    manifest.replace_snapshot(path, ["shared.parquet"], base_seq=0)
    res = manifest.vacuum(path, grace_s=0)
    assert os.path.exists(shared)
    assert not os.path.exists(only_old)
    assert res["removed"] == 1


def test_replace_snapshot_cas_against_base_generation(tmp_path):
    """A rewrite computed from generation N must fail its publish if an
    append moved the snapshot to N+1 meanwhile — losing the race loudly
    instead of silently dropping the appended file."""
    import pytest

    from eventstore_spark.manifest import ManifestConflictError

    path = str(tmp_path / "log")
    os.makedirs(path)
    _touch(path, "a.parquet")
    manifest.append_files(path, ["a.parquet"], base_seq=-1)
    seq, _files = manifest.latest(path)  # rewrite snapshots here
    _touch(path, "b.parquet")
    manifest.append_files(path, ["b.parquet"],
                          base_seq=seq)  # concurrent append wins
    with pytest.raises(ManifestConflictError):
        manifest.replace_snapshot(path, ["rewrite.parquet"], base_seq=seq)
    assert set(manifest.snapshot_files(path)) == {"a.parquet", "b.parquet"}


def test_scavenge_racing_append_conflicts_and_unwinds(spark, tmp_path, monkeypatch):
    """End-to-end maintenance race: an append lands between scavenge's
    snapshot read and its publish → the scavenge raises, the appended
    event survives, and no half-published rewrite files remain in the
    snapshot or on disk."""
    import pytest

    from eventstore_spark import maintenance
    from eventstore_spark.manifest import ManifestConflictError
    from eventstore_spark.writer import EventLogWriter, ProposedEvent

    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("acct-1", [ProposedEvent("A", "{}"), ProposedEvent("B", "{}")])

    orig = maintenance._read_snapshot

    def racy(spark_, path_):
        df, seq = orig(spark_, path_)
        w.append("race-1", [ProposedEvent("C", "{}")])  # after the snapshot
        return df, seq

    monkeypatch.setattr(maintenance, "_read_snapshot", racy)
    with pytest.raises(ManifestConflictError):
        maintenance.scavenge(spark, path)
    monkeypatch.setattr(maintenance, "_read_snapshot", orig)

    assert w.load().where("stream_id = 'race-1'").count() == 1
    assert not [n for n in os.listdir(path) if n.startswith("part-scavenge")]
    # and a CLEAN re-run (no race) succeeds from the new snapshot
    stats = maintenance.scavenge(spark, path)
    assert stats["events_after"] == 3
    assert w.load().count() == 3


def test_archiving_transparent_reads_and_retention(spark, tmp_path):
    """Cold-tier archiving (reference archiving.md): cold files upload to
    the archive, reads reach through transparently before AND after the
    hot copies drain, the checkpoint records archived history, and a new
    subscription below the checkpoint fails loudly instead of silently
    skipping archived events."""
    import pytest

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.subscriptions import subscribe_all
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "log")
    cold = str(tmp_path / "cold")
    eng = EventStoreEngine(spark, store)
    for i in range(6):  # one commit file per append
        eng.append(f"acct-{i % 2}", [ProposedEvent("E", f'{{"i": {i}}}')])
    before = [(r.log_position, r.stream_id)
              for r in eng.events().orderBy("log_position").collect()]

    stats = eng.archive_cold(cold, keep_files=2)
    assert stats["uploaded"] == 4 and stats["checkpoint"] == 4
    # hot copies still present → reads unchanged, nothing dropped yet
    assert [(r.log_position, r.stream_id)
            for r in eng.events().orderBy("log_position").collect()] == before
    assert eng.drop_archived_local(grace_s=3600)["removed"] == 0  # grace holds

    # drain the hot copies; reads now resolve through the archive
    assert eng.drop_archived_local(grace_s=0)["removed"] == 4
    assert [(r.log_position, r.stream_id)
            for r in eng.events().orderBy("log_position").collect()] == before
    assert eng.read_stream("acct-0").count() == 3
    st = eng.store_statistics()
    assert st["archived_files"] == 4 and st["archive_checkpoint"] == 4
    assert st["archived_bytes"] > 0

    # appends continue normally on the hot tier
    eng.append("acct-0", [ProposedEvent("E", '{"i": 99}')])
    assert eng.events().count() == 7

    # re-running is idempotent for already-archived names
    again = eng.archive_cold(cold, keep_files=2)
    assert again["archived_total"] >= 4

    # streaming the archived history must fail loudly...
    with pytest.raises(ValueError):
        subscribe_all(spark, store)
    # ...but subscribing past the (latest) checkpoint works
    s = subscribe_all(spark, store, from_position=again["checkpoint"] + 1)
    assert s.isStreaming


def test_backup_restore_differential_and_consistent(spark, tmp_path):
    """Online manifest-pinned backup (reference backup.md translated):
    the backup copies exactly the pinned generation's files (superseded
    pre-vacuum files are never included), a second backup copies only
    the delta and prunes dropped names, and restore into a fresh dir
    reproduces the store bit-for-bit — while refusing a non-empty
    destination."""
    import pytest

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.maintenance import backup, restore
    from eventstore_spark.writer import ProposedEvent

    store, bdir, rdir = (str(tmp_path / d) for d in ("log", "bak", "rest"))
    eng = EventStoreEngine(spark, store)
    for i in range(4):
        eng.append(f"acct-{i % 2}", [ProposedEvent("E", f'{{"i": {i}}}')])
    eng.set_stream_metadata("acct-0", max_count=1)
    eng.scavenge()  # both generations now on disk (pre-vacuum)

    s1 = backup(store, bdir)
    # only the pinned (post-scavenge) generation was copied
    import os as _os

    from eventstore_spark import manifest as M

    assert sorted(
        n for n in _os.listdir(bdir) if n.endswith(".parquet")
    ) == sorted(M.snapshot_files(store))
    assert s1["copied"] > 0 and s1["skipped"] == 0

    # differential: new append → second backup copies just the delta
    eng.append("acct-1", [ProposedEvent("E", '{"i": 99}')])
    s2 = backup(store, bdir)
    assert s2["copied"] == 1 and s2["skipped"] >= s1["copied"]

    want = [(r.log_position, r.stream_id, r.event_id)
            for r in eng.events().orderBy("log_position").collect()]

    restore(bdir, rdir)
    r_eng = EventStoreEngine(spark, rdir)
    got = [(r.log_position, r.stream_id, r.event_id)
           for r in r_eng.events().orderBy("log_position").collect()]
    assert got == want
    # the restored store appends correctly from the restored head
    r_eng.append("acct-1", [ProposedEvent("E", '{"i": 100}')])
    assert r_eng.events().count() == len(want) + 1

    with pytest.raises(ValueError):
        restore(bdir, store)  # non-empty destination refused


def test_redaction_blanks_targets_only(spark, tmp_path):
    """Redaction (reference redaction.md): the targeted events' data is
    blanked and their metadata carries $redacted; every other property
    (position, number, type, created) and every other EVENT — including
    ones in the same file — are byte-identical. Only files containing
    targets are rewritten, and the manifest commit keeps in-flight
    readers safe."""
    import json as _json

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "log")
    eng = EventStoreEngine(spark, store)
    # two events per commit file → redacting one must not disturb its
    # file-mate
    eng.append("acct-1", [
        ProposedEvent("E", '{"secret": "a"}', metadata='{"k": 1}'),
        ProposedEvent("E", '{"keep": 1}'),
    ])
    eng.append("acct-2", [ProposedEvent("E", '{"secret": "b"}')])
    eng.append("acct-3", [ProposedEvent("E", '{"keep": 2}')])
    before = {r.log_position: r for r in eng.events().collect()}
    n_files_before = len(
        [f for f in __import__("os").listdir(store) if f.endswith(".parquet")]
    )

    stats = eng.redact(["0@acct-1", "0@acct-2"])
    assert stats["redacted"] == 2 and stats["files_rewritten"] == 2

    after = {r.log_position: r for r in eng.events().collect()}
    assert set(after) == set(before)
    for pos, r in after.items():
        b = before[pos]
        assert (r.stream_id, r.event_number, r.event_type, r.event_id,
                r.created) == (b.stream_id, b.event_number, b.event_type,
                               b.event_id, b.created)
        if (r.stream_id, r.event_number) in {("acct-1", 0), ("acct-2", 0)}:
            assert r.data is None
            meta = _json.loads(r.metadata)
            assert meta["$redacted"] is True
            if b.metadata:  # pre-existing metadata keys survive the merge
                assert meta["k"] == 1
        else:
            assert r.data == b.data and r.metadata == b.metadata
    # the untouched acct-3 file was NOT rewritten (name still in snapshot)
    from eventstore_spark import manifest as M

    snap = set(M.snapshot_files(store))
    assert sum(1 for f in snap if f.startswith("part-redact-")) == stats["files_new"]
    # bad target format rejected
    import pytest

    with pytest.raises(ValueError):
        eng.redact(["nope"])


def test_drop_archived_grace_runs_from_archival_time(spark, tmp_path):
    """The reader-drain grace clocks from when a file was ARCHIVED, not
    its mtime (== creation time for immutable log files — by that clock
    every archived file would drop immediately, ADVICE r5)."""
    import os
    import time

    from eventstore_spark import manifest as M
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store, cold = str(tmp_path / "agr"), str(tmp_path / "agr_cold")
    eng = EventStoreEngine(spark, store)
    for i in range(4):
        eng.append("s-1", [ProposedEvent("E", f'{{"i": {i}}}')])
    # age the log files far past any grace window
    old = time.time() - 7 * 86400
    for f in os.listdir(store):
        if f.endswith(".parquet"):
            os.utime(os.path.join(store, f), (old, old))
    eng.archive_cold(cold, keep_files=2)
    cfg = M.archive_config(store)
    assert set(cfg["archived_at"]) == set(cfg["files"])  # clock recorded
    # week-old mtimes, but archived SECONDS ago: grace must hold
    assert eng.drop_archived_local(grace_s=3600)["removed"] == 0
    # once the ARCHIVAL time passes the grace window, the hot copies drop
    M.write_archive_config(store, {
        **cfg, "archived_at": {f: old for f in cfg["files"]}})
    assert eng.drop_archived_local(grace_s=3600)["removed"] == 2
    eng.close()


def test_redaction_purges_archive_copies(spark, tmp_path):
    """Redacting an event whose file was archived must remove the
    unredacted bytes from the COLD tier too, and drop the stale name
    from archive.json (ADVICE r5 — GDPR tool must not leave the data
    readable in the archive forever)."""
    import json
    import os

    from eventstore_spark import manifest as M
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store, cold = str(tmp_path / "rda"), str(tmp_path / "rda_cold")
    eng = EventStoreEngine(spark, store)
    for i in range(4):
        eng.append("s-1", [ProposedEvent("E", f'{{"secret": {i}}}')])
    eng.archive_cold(cold, keep_files=1)
    eng.drop_archived_local(grace_s=0)  # hot copies gone → archive serves
    cfg0 = M.archive_config(store)
    assert len(cfg0["files"]) == 3
    stats = eng.redact(["0@s-1"])  # resolves through the archive tier
    assert stats["redacted"] == 1 and stats["archive_purged"] >= 1
    cfg = M.archive_config(store)
    # the affected file is gone from the archive dir AND the config
    purged = set(cfg0["files"]) - set(cfg["files"])
    assert len(purged) == stats["archive_purged"]
    for name in purged:
        assert not os.path.exists(os.path.join(cold, name))
        assert name not in cfg.get("archived_at", {})
    # the redacted row is blanked; no copy of the secret remains readable
    rows = {r.event_number: r for r in eng.read_stream("s-1").collect()}
    assert rows[0].data is None
    assert json.loads(rows[0].metadata)["$redacted"] is True
    assert rows[1].data == '{"secret": 1}'
    eng.close()


def test_backup_during_active_projection_skips_torn_generations(spark, tmp_path):
    """A backup taken while a continuous projection is mid-micro-batch
    carries only COMMITTED state generations (`batch=` dirs with
    _SUCCESS) — restore sees a consistent state table (VERDICT r5 #5)."""
    import json
    import os

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.maintenance import restore
    from eventstore_spark.projections.dsl import Projection
    from eventstore_spark.writer import ProposedEvent

    store, dest, rest = (str(tmp_path / n) for n in ("bks", "bkd", "bkr"))
    eng = EventStoreEngine(spark, store)
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    spec = (Projection.from_all(name="torn")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    eng.create_projection(spec, mode="continuous")
    q = eng.run_projection("torn", checkpoint_dir=str(tmp_path / "tornck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sd = eng._projection_state_dir("torn")
    committed = [d for d in os.listdir(sd) if d.startswith("batch=")]
    assert committed
    # plant an IN-FLIGHT generation: parquet part without _SUCCESS
    torn = os.path.join(sd, "batch=999")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"not yet committed")
    eng.backup(dest)
    bsd = os.path.join(dest, "_projections", "torn", "state")
    assert sorted(os.listdir(bsd)) == sorted(committed)  # torn gen skipped
    restore(dest, rest)
    eng.close()
    e2 = EventStoreEngine(spark, rest)
    e2.create_projection(spec, mode="continuous")
    e2.projections["torn"].runs = 1  # state table exists from the backup
    got = {r.partition: json.loads(r.state)["n"]
           for r in e2.projection_state("torn").collect()}
    assert got == {"": 1}
    e2.close()


def test_auto_scavenge_policy_schedule_and_thresholds(spark, tmp_path):
    """Auto-scavenge parity (docs/server/operations/auto-scavenge.md):
    with an injected clock, the policy runs exactly when the schedule AND
    thresholds say so, checkpoints its state, resumes a crashed run
    immediately, and skips a quiet store."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "asv")
    eng = EventStoreEngine(spark, store)
    for i in range(6):
        eng.append("acct-1", [ProposedEvent("E", f'{{"i": {i}}}')])

    t = {"now": 1_000_000.0}
    pol = eng.auto_scavenge_policy(
        interval_s=3600, min_removable_ratio=0.2, vacuum_grace_s=0,
        clock=lambda: t["now"])

    # nothing removable → scavenge skipped, but the run is recorded
    r1 = pol.run_if_due()
    assert r1["ran"] and r1["scavenge_skipped"] == "below min_removable_ratio"
    assert r1["removable_ratio"] == 0.0

    # within the interval → not due, even though data became removable
    eng.set_stream_metadata("acct-1", max_count=2)  # 4 of 7 rows removable
    r2 = pol.run_if_due()
    assert not r2["ran"] and r2["reason"] == "not due"

    # past the interval AND above threshold → scavenge + vacuum run
    t["now"] += 3601
    r3 = pol.run_if_due()
    assert r3["ran"] and r3["removable_ratio"] > 0.2
    assert r3["scavenge"]["removed"] == 4
    assert eng.read_stream("acct-1").count() == 2
    st = pol.status()
    assert st["last_run"] == t["now"] and st["finished"] >= st["started"]

    # crashed run (started > finished in the checkpoint) resumes NOW
    pol._write_status({**pol.status(), "started": t["now"] + 10})
    assert pol.due(t["now"] + 11)
    eng.close()


def test_auto_scavenge_policy_compacts_idle_projection_state(spark, tmp_path):
    """The state-table threshold: a stopped continuous projection with
    more delta generations than allowed gets compacted; a live one is
    left alone (single-maintainer rule)."""
    import os

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.projections.dsl import Projection
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "asvc")
    eng = EventStoreEngine(spark, store)
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    spec = (Projection.from_all(name="deltas")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    eng.create_projection(spec, mode="continuous")
    q = eng.run_projection("deltas", checkpoint_dir=str(tmp_path / "dck"))
    try:
        q.processAllAvailable()
        eng.append("acct-1", [ProposedEvent("Op", '{"v": 2}')])
        q.processAllAvailable()
    finally:
        q.stop()
    eng.projections["deltas"].query = None
    sd = eng._projection_state_dir("deltas")
    gens = sum(1 for d in os.listdir(sd) if d.startswith("batch="))
    assert gens >= 2
    pol = eng.auto_scavenge_policy(
        interval_s=0, min_removable_ratio=0.99, max_state_generations=1,
        clock=lambda: 5_000_000.0)
    r = pol.run_if_due()
    assert r["compacted"]["deltas"]["generations_after"] == 1
    assert sum(1 for d in os.listdir(sd) if d.startswith("batch=")) == 1
    eng.close()


def test_admin_cli_main(spark, tmp_path, capsys):
    """tools/admin.py: the operator CLI drives stats/scavenge/vacuum
    through the public engine surface (read-only for inspection
    commands) and prints one JSON document per invocation."""
    import json
    import sys

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    sys.path.insert(0, "/root/repo/tools")
    import admin

    store = str(tmp_path / "clistore")
    eng = EventStoreEngine(spark, store)
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    eng.set_stream_metadata("acct-1", max_count=1)
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 2}')])

    # read-only inspection works while THIS process holds the writer
    assert admin.main([store, "stats"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["events"] == 1 and stats["streams"] == 1
    eng.close()  # release so the mutating command can take the lock
    assert admin.main([store, "scavenge"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["removed"] == 1
    assert admin.main([store, "scavenges"]) == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["event_type"] for h in hist] == [
        "$scavengeStarted", "$scavengeChunksCompleted", "$scavengeCompleted"]


def test_restore_then_autorun_system_projections(spark, tmp_path):
    """Backup/restore a store whose system projections ran continuously,
    then open the RESTORED store with auto-run: streaming checkpoints
    are EXCLUDED from backups (they pin the old directory's absolute
    source path — restored as-is they crash the query with "Wrong
    basePath"), so the restored query starts fresh, replays the log, and
    the deterministic link ids dedupe the re-delivery (reads complete,
    no duplicates)."""
    from pyspark.sql import functions as F

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    src, bak, dst = (str(tmp_path / n) for n in ("rsp_a", "rsp_b", "rsp_c"))
    e1 = EventStoreEngine(spark, src, system_projections="continuous")
    e1.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    e1.append("acct-2", [ProposedEvent("Op", '{"v": 2}')])
    e1._system_links_query.processAllAvailable()
    assert e1.read_stream("$ce-acct").count() == 2
    e1.backup(bak)
    e1.close()
    e2 = EventStoreEngine.restore(spark, bak, dst,
                                  system_projections="continuous")
    try:
        e2.append("acct-3", [ProposedEvent("Op", '{"v": 3}')])
        e2._system_links_query.processAllAvailable()
        got = [r.data for r in e2.read_stream("$ce-acct")
               .orderBy("event_number").collect()]
        assert got == ["0@acct-1", "0@acct-2", "0@acct-3"]
        # no duplicate link rows landed despite the replay
        raw = e2.events().where(F.col("stream_id") == "$ce-acct").count()
        assert raw == 3
    finally:
        e2.close()


def test_backup_reaches_through_archive_tier(spark, tmp_path):
    """Backing up a store whose hot copies drained resolves the files
    through the ARCHIVE tier (manifest.resolve_files) — the backup is
    complete and restores readable with no archive configured."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.maintenance import restore
    from eventstore_spark.writer import ProposedEvent

    src, cold, bak, dst = (str(tmp_path / n)
                           for n in ("bta", "bta_cold", "bta_bak", "bta_dst"))
    eng = EventStoreEngine(spark, src)
    for i in range(4):
        eng.append("s-1", [ProposedEvent("E", f'{{"i": {i}}}')])
    eng.archive_cold(cold, keep_files=1)
    eng.drop_archived_local(grace_s=0)  # leave legacy... no: archived_at now
    # force the drain (archived seconds ago, grace 0)
    assert eng.drop_archived_local(grace_s=0)["removed"] >= 0
    # ensure at least one hot copy is really gone
    import os

    from eventstore_spark import manifest as M

    cfg = M.archive_config(src)
    gone = [f for f in cfg["files"] if not os.path.exists(os.path.join(src, f))]
    assert gone, "drain did not remove any hot copy"
    out = eng.backup(bak)
    assert out["copied"] >= len(gone)
    restore(bak, dst)
    eng.close()
    e2 = EventStoreEngine(spark, dst)
    assert e2.read_stream("s-1").count() == 4  # full history, no archive
    e2.close()


def test_redaction_visible_through_materialized_links(spark, tmp_path):
    """Redacting a source event on a store with MATERIALIZED system
    streams: the link rows are untouched (body stays n@stream) and a
    resolve_link_tos read serves the REDACTED payload."""
    import json

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "rml")
    eng = EventStoreEngine(spark, store)
    eng.append("acct-1", [ProposedEvent("Op", '{"secret": 1}'),
                          ProposedEvent("Op", '{"ok": 2}')])
    eng.register_system_projections(mode="onetime")
    stats = eng.redact(["0@acct-1"])
    assert stats["redacted"] == 1
    res = {r.event_number: r for r in eng.read_stream(
        "$ce-acct", resolve_link_tos=True).collect()}
    assert res[0].data is None  # redacted target through the link
    assert json.loads(res[0].metadata)["$redacted"] is True
    assert res[1].data == '{"ok": 2}'
    eng.close()


def test_vacuum_drains_archive_copies_of_superseded_files(spark, tmp_path):
    """Cold-tier leak fix (round 6): scavenging an ARCHIVED store leaves
    the superseded files' archive copies orphaned — vacuum purges them
    (same keep-set/grace as the hot tier) and prunes archive.json, while
    archive copies still referenced by retained generations survive."""
    import os

    from eventstore_spark import manifest as M
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store, cold = str(tmp_path / "avc"), str(tmp_path / "avc_cold")
    eng = EventStoreEngine(spark, store)
    for i in range(4):
        eng.append("s-1", [ProposedEvent("E", f'{{"i": {i}}}')])
    eng.archive_cold(cold, keep_files=1)
    archived = set(M.archive_config(store)["files"])
    assert len(archived) == 3
    # retention: keep 1 event → scavenge supersedes every original file
    eng.set_stream_metadata("s-1", max_count=1)
    eng.scavenge()
    # grace window holds: nothing drains, archive intact, reads fine
    r0 = eng.vacuum(grace_s=3600)
    assert r0["archive_removed"] == 0
    assert all(os.path.exists(os.path.join(cold, n)) for n in archived)
    # grace over: hot AND cold copies of fully-drained names go
    r1 = eng.vacuum(grace_s=0)
    assert r1["archive_removed"] == len(archived)
    assert not any(os.path.exists(os.path.join(cold, n)) for n in archived)
    cfg = M.archive_config(store)
    assert cfg["files"] == [] and cfg.get("archived_at", {}) == {}
    assert eng.read_stream("s-1").count() == 1  # retained data intact
    eng.close()


def test_redaction_plain_dir_keeps_untouched_files(spark, tmp_path):
    """Round-8 review (data loss): redacting a PLAIN-DIRECTORY store (no
    manifest yet — legacy/externally-written log) must carry every
    untouched file into the first published snapshot. Deriving the
    keep-set from the absent manifest orphaned them, and the next vacuum
    deleted them permanently."""
    from eventstore_spark.maintenance import redact_events
    from eventstore_spark.schema import EVENTS_SCHEMA
    from eventstore_spark import manifest as M

    path = str(tmp_path / "plainlog")
    rows_a = [(1, "orders-1", "orders", 0, "e1", "Placed", '{"card": "4111"}',
               None, None, True)]
    rows_b = [(2, "orders-2", "orders", 0, "e2", "Placed", '{"ok": 1}',
               None, None, True),
              (3, "users-1", "users", 0, "e3", "Signed", '{"ok": 2}',
               None, None, True)]
    spark.createDataFrame(rows_a, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)
    spark.createDataFrame(rows_b, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)
    assert M.latest(path)[0] == -1  # genuinely plain-dir
    res = redact_events(spark, path, ["0@orders-1"])
    assert res["redacted"] == 1
    snap = M.snapshot_files(path)
    df = spark.read.schema(EVENTS_SCHEMA).parquet(
        *M.resolve_files(path, snap))
    got = {r.stream_id: r.data for r in df.collect()}
    assert got["orders-1"] is None            # redacted
    assert got["orders-2"] == '{"ok": 1}'     # untouched file SURVIVES
    assert got["users-1"] == '{"ok": 2}'
    assert df.count() == 3


def test_plain_dir_publish_conflicts_when_manifest_appeared(tmp_path):
    """Round-8 review: a writer/rewrite that computed from plain-dir
    mode (base_seq=-1) must CONFLICT when a manifest exists by publish
    time — even when generation 0 itself has been vacuumed away (the
    old existence check would silently publish gen 0 UNDER the live
    generations, orphaning the append)."""
    import os

    from eventstore_spark import manifest as M

    import pytest

    path = str(tmp_path / "mlog")
    os.makedirs(path)
    for n in ("a.parquet", "b.parquet"):
        open(os.path.join(path, n), "w").write("x")
    M.append_files(path, ["a.parquet"], base_seq=-1)     # gen 0
    M.append_files(path, ["b.parquet"], base_seq=0)      # gen 1
    os.remove(os.path.join(path, "_manifest", "manifest-0000000000.json"))
    with pytest.raises(M.ManifestConflictError):
        M.append_files(path, ["c.parquet"], base_seq=-1)
    with pytest.raises(M.ManifestConflictError):
        M.replace_snapshot(path, ["c.parquet"], base_seq=-1)
    assert M.latest(path)[0] == 1  # live snapshot untouched
