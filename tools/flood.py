"""Write/read flood harness — the analog of the reference testclient's
``wrfl`` / ``rdfl`` commands (KurrentDB.TestClient/Commands/
WriteFloodProcessor.cs:196-209, ReadFloodProcessor.cs:144-155), which print
``{requests} in {elapsed}ms ({rate} reqs/sec)``.

Usage:
    python tools/flood.py wrfl [streams] [events_per_stream] [payload_bytes]
    python tools/flood.py wrflg [clients] [appends_per_client] [payload_bytes]
    python tools/flood.py rdfl [reads]
    python tools/flood.py bulk [rows]        # append_df distributed path

Measures the single-writer append protocol (one commit per append batch —
latency-bound locally, batch-size-bound on a cluster), point/stream read
latency over the parquet log, and the distributed bulk-emission path.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eventstore_spark import manifest
from eventstore_spark.session import get_spark
from eventstore_spark.writer import EventLogWriter, ProposedEvent

WORKDIR = "/tmp/eventstore_flood"


def _fresh_writer(spark):
    shutil.rmtree(WORKDIR, ignore_errors=True)
    return EventLogWriter(spark, WORKDIR)


def _report(label: str, n: int, t0: float) -> None:
    ms = (time.time() - t0) * 1000
    rate = n / max(ms / 1000, 1e-9)
    print(f"{label}: {n} in {ms:.0f}ms ({rate:.0f} reqs/sec)")


def wrfl(spark, streams: int = 20, per_stream: int = 10, size: int = 256) -> None:
    w = _fresh_writer(spark)
    payload = '{"d": "' + "x" * max(size - 10, 1) + '"}'
    t0 = time.time()
    n = 0
    for s in range(streams):
        w.append(f"flood-{s}", [ProposedEvent("Flood", payload) for _ in range(per_stream)])
        n += per_stream
    _report("wrfl", n, t0)


def wrflg(spark, clients: int = 16, per_client: int = 25,
          size: int = 256) -> None:
    """Concurrent write flood through GROUP COMMIT — the reference
    testclient runs wrfl with --clients concurrent connections and the
    server's RequestManager batches them into shared storage writes;
    here append() calls that queue while a commit is in flight land in
    the next commit file. Also prints how many commit files it took."""
    import threading

    w = _fresh_writer(spark)
    payload = '{"d": "' + "x" * max(size - 10, 1) + '"}'
    t0 = time.time()

    def client(cid):
        for i in range(per_client):
            w.append(f"flood-{cid}", [ProposedEvent("Flood", payload)])

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    _report("wrflg", clients * per_client, t0)
    print(f"wrflg: {len(manifest.data_files(WORKDIR))} commit files")
    n = w.load().count()
    assert n == clients * per_client, f"wrflg wrote {n}"
    w.close()


def rdfl(spark, reads: int = 200) -> None:
    w = _fresh_writer(spark)
    for s in range(8):
        w.append(f"flood-{s}", [ProposedEvent("Flood", "{}") for _ in range(25)])
    log = w.load().cache()
    log.count()
    t0 = time.time()
    for i in range(reads):
        sid = f"flood-{i % 8}"
        log.where((F.col("stream_id") == sid) & (F.col("event_number") == i % 25)).collect()
    _report("rdfl", reads, t0)
    log.unpersist()


def bulk(spark, rows: int = 100_000) -> None:
    """The distributed emission path: one append_df of `rows` link rows —
    the $by_event_type-rebuild shape (VERDICT r1 scale-killer #2 check)."""
    w = _fresh_writer(spark)
    batch = spark.range(rows).select(
        F.concat(F.lit("$et-type-"), (F.col("id") % 64).cast("string")).alias("stream_id"),
        F.lit("$>").alias("event_type"),
        F.concat(F.col("id").cast("string"), F.lit("@src")).alias("data"),
        F.lit(None).cast("string").alias("metadata"),
        F.concat(F.lit("link-"), F.col("id").cast("string")).alias("event_id"),
    )
    t0 = time.time()
    w.append_df(batch)
    _report("bulk", rows, t0)
    got = w.load().count()
    assert got == rows, f"bulk wrote {got} != {rows}"


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else "wrfl"
    args = [int(a) for a in sys.argv[2:]]
    spark = get_spark("flood")
    if cmd == "wrfl":
        wrfl(spark, *args)
    elif cmd == "wrflg":
        wrflg(spark, *args)
    elif cmd == "rdfl":
        rdfl(spark, *args)
    elif cmd == "bulk":
        bulk(spark, *args)
    else:
        raise SystemExit(f"unknown command {cmd!r} (wrfl|wrflg|rdfl|bulk)")
    shutil.rmtree(WORKDIR, ignore_errors=True)


if __name__ == "__main__":
    main()
