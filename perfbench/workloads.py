"""The three closed-loop workloads, each with one client thread.

Every workload runs against the public ``EventStoreEngine`` API, keeps an
in-process model of what it wrote, and checks each operation's output
against that model. ``Run`` carries the samples, the checks and the
optional tracer; the workload functions fill it.

* ``write_grow`` - episodes on fresh stores: create a hot set of
  ``account-*`` streams (the episode's set-up), then grow the log by a
  fixed number of one-event commits with exact expected versions,
  Zipf-spread over the hot set, with a fixed share of stream-creating
  ``order-*`` appends and of deliberately stale expected versions.
* ``read_tail`` - a fragmented store built through ``append``; each
  cycle appends a burst, long-polls ``$all`` until the last event of the
  burst comes back, then reads one stream page and one ``$all`` page.
* ``fold_scan`` - a compacted store from one ``append_df`` of a
  generated envelope; each cycle appends a burst, runs a per-stream fold
  projection, drains an ``available_now`` catch-up subscription, reads
  ``$ce-user`` and the same pages as ``read_tail``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from eventstore_spark import (
    EventStoreEngine,
    Projection,
    ProposedEvent,
    envelope_from_app_events,
    run_batch,
)
from eventstore_spark.streaming import subscriptions
from eventstore_spark.writer import NO_STREAM, WrongExpectedVersionError

from . import handlers

SIZES = {
    "full": {
        "setups": 3,           # store builds per run; setup_s is their median
        "wg_hot": 8,           # account-* hot set per episode
        "wg_commits": 100,     # growth commits per episode
        "wg_every": 50,        # one order-* create and one stale probe per 50
        "wg_min_episodes": 3,
        "rt_streams": 8,
        "rt_commits": 40,      # 10-event commits in the built store
        "rt_warmup": 1,        # untimed cycles before measuring
        "rt_min_cycles": 1,    # measured cycles, at least
        "rt_burst": 4,
        "fs_events": 1000,     # sf0.001's envelope: 1k events, 15 users
        "fs_users": 15,
        "fs_burst": 8,
        "fs_burst_streams": 4,
    },
    "smoke": {
        "setups": 1,
        "wg_hot": 4,
        "wg_commits": 30,
        "wg_every": 15,
        "wg_min_episodes": 1,
        "rt_streams": 4,
        "rt_commits": 12,
        "rt_warmup": 0,
        "rt_min_cycles": 1,
        "rt_burst": 2,
        "fs_events": 200,
        "fs_users": 5,
        "fs_burst": 2,
        "fs_burst_streams": 2,
    },
}

PAYLOAD_BYTES = 256
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


class Run:
    """Samples, output checks and store facts of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 sizes: dict, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.sizes, self.tracer = seconds, sizes, tracer
        self.samples: dict[str, list[float]] = {}
        self.facts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.unclocked = [0.0, 0.0]  # wall, CPU seconds of checks inside a cycle

    def op(self, kind: str):
        return self.tracer.op(kind) if self.tracer else nullcontext()

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    @contextmanager
    def checking(self):
        """Checking work that runs inside a timed cycle (reading the log
        back to compare with the model): its wall and CPU time are taken
        out of the cycle's figures."""
        c, t = self.cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.unclocked[0] += time.perf_counter() - t
            self.unclocked[1] += self.cpu_s() - c

    def cycle_start(self) -> tuple[float, float]:
        self.unclocked = [0.0, 0.0]
        return time.perf_counter(), self.cpu_s()

    def cycle_end(self, start: tuple[float, float]) -> None:
        self.add("cycle_s", time.perf_counter() - start[0] - self.unclocked[0])
        self.add("cycle_cpu_s", self.cpu_s() - start[1] - self.unclocked[1])

    def verify(self, ok: bool, what: str) -> None:
        """Count one wrong operation when ``ok`` is false."""
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def cpu_s(self) -> float:
        """CPU seconds (user + system, live processes plus the reaped
        children each accounts for) of this process and every process
        under it - the JVM and Spark's Python workers - less the JVM's JIT
        compiler threads. Unlike wall time it does not count the time the
        host gives the CPUs to other guests, and without the compiler
        threads it does not count the JVM compiling itself in the
        background (over half the JVM's CPU in a run of this size)."""
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    total += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        head, _, rest = fh.read().rpartition(")")
                    if head.split("(", 1)[1].startswith(JIT_THREADS):
                        total -= sum(int(x) for x in rest.split()[11:13])
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        stack.extend(int(x) for x in fh.read().split())
            except (FileNotFoundError, ProcessLookupError):
                continue  # exited between the listing and the read
        return total / CLOCK_TICKS

    def store_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def record_store(self, path: str, payload_bytes: int) -> None:
        """Size facts of the store a workload measured on."""
        pq_files = pq_bytes = total = man_bytes = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                n = os.path.getsize(os.path.join(root, f))
                total += n
                if f.endswith(".parquet") and root == path:
                    pq_files += 1
                    pq_bytes += n
                if os.path.basename(root) == "_manifest":
                    man_bytes += n
        man = os.path.join(path, "_manifest")
        gens = sum(1 for n in os.listdir(man) if n.startswith("manifest-")) \
            if os.path.isdir(man) else 0
        self.facts.update({
            "store.parquet_files": pq_files,
            "store.parquet_bytes": pq_bytes,
            "store.payload_bytes": payload_bytes,
            "store.total_bytes": total,
            "manifest.generations": gens,
            "manifest.bytes": man_bytes,
        })


class Model:
    """What the log must hold: per-stream event ids in order, the global
    commit order, and the payload bytes appended."""

    def __init__(self):
        self.streams: dict[str, list[str]] = {}
        self.order: list[tuple[str, int, str]] = []  # (stream, number, id)
        self.payload_bytes = 0

    def version(self, stream: str) -> int:
        return len(self.streams.get(stream, ())) - 1  # NO_STREAM when absent

    def add(self, stream: str, ev: ProposedEvent) -> None:
        ids = self.streams.setdefault(stream, [])
        self.order.append((stream, len(ids), ev.event_id))
        ids.append(ev.event_id)
        self.payload_bytes += ev.byte_size()


def _payload(rng: random.Random) -> str:
    amount = rng.randrange(1, 10**6)
    pad = PAYLOAD_BYTES - len(json.dumps({"amount": amount, "memo": ""}))
    memo = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=pad))
    return json.dumps({"amount": amount, "memo": memo})


def _event_id(rng: random.Random) -> str:
    return f"{rng.getrandbits(128):032x}"


def _append(run: Run, eng, model: Model, stream: str, rng: random.Random,
            kind: str, event_type: str = "Deposited", data: str | None = None,
            metadata: str | None = None) -> tuple[float, float]:
    """One single-event append with an exact expected version; returns
    its latency and this process's CPU time in seconds, and checks the
    returned version. A hot append does no Spark work, so the process's
    own CPU time is all of it."""
    expected = model.version(stream)
    ev = ProposedEvent(event_type, data if data is not None else _payload(rng),
                       metadata, event_id=_event_id(rng))
    run.attempted += 1
    with run.op(kind):
        c = time.process_time()
        t = time.perf_counter()
        got = eng.append(stream, [ev], expected)
        dt = time.perf_counter() - t
        dc = time.process_time() - c
    model.add(stream, ev)
    run.verify(got == expected + 1,
               f"append {stream}: returned version {got}, expected {expected + 1}")
    return dt, dc


def _append_batch(run: Run, eng, model: Model, stream: str, rng: random.Random,
                  n: int) -> None:
    expected = model.version(stream)
    evs = [ProposedEvent("Deposited", _payload(rng), event_id=_event_id(rng))
           for _ in range(n)]
    run.attempted += 1
    with run.op("append_new" if expected == NO_STREAM else "append"):
        got = eng.append(stream, evs, expected)
    for ev in evs:
        model.add(stream, ev)
    run.verify(got == expected + n,
               f"append {stream}: returned version {got}, expected {expected + n}")


def _stale_probe(run: Run, eng, model: Model, stream: str, rng: random.Random,
                 use_no_stream: bool) -> None:
    """An append whose expected version is wrong must be refused."""
    expected = NO_STREAM if use_no_stream else model.version(stream) - 1
    ev = ProposedEvent("Deposited", _payload(rng), event_id=_event_id(rng))
    run.attempted += 1
    refused = False
    with run.op("append_conflict"):
        try:
            eng.append(stream, [ev], expected)
        except WrongExpectedVersionError:
            refused = True
    run.verify(refused, f"stale append to {stream} at {expected} was accepted")


def _read_all_rows(run: Run, eng, start: int, count: int):
    """$all page: returns rows, wall and CPU seconds; records the plan
    (call -> page object) and collect times."""
    run.attempted += 1
    with run.op("read_all"):
        c = run.cpu_s()
        t = time.perf_counter()
        page = eng.read_all_page(start, count)
        t_plan = time.perf_counter()
        rows = page.events.select(
            "log_position", "stream_id", "event_number", "event_id").collect()
        t_end = time.perf_counter()
        dc = run.cpu_s() - c
    run.add("read_plan_ms", (t_plan - t) * 1000)
    run.add("read_collect_ms", (t_end - t_plan) * 1000)
    return rows, t_end - t, dc


def _read_stream_rows(run: Run, eng, stream: str, start: int, count: int):
    run.attempted += 1
    with run.op("read_stream"):
        c = run.cpu_s()
        t = time.perf_counter()
        page = eng.read_stream_page(stream, start, count)
        t_plan = time.perf_counter()
        rows = page.events.select("event_number", "event_id").collect()
        t_end = time.perf_counter()
        dc = run.cpu_s() - c
    run.add("read_plan_ms", (t_plan - t) * 1000)
    run.add("read_collect_ms", (t_end - t_plan) * 1000)
    return rows, t_end - t, dc


def _check_stream_page(run: Run, model: Model, stream: str, start: int,
                       count: int, rows) -> None:
    ids = model.streams[stream][start:start + count]
    want = [(start + i, eid) for i, eid in enumerate(ids)]
    got = [(r["event_number"], r["event_id"]) for r in rows]
    run.verify(got == want, f"stream page {stream}@{start}: {len(got)} rows differ "
                            f"from the model's {len(want)}")


def _all_page_ok(model_pos: dict, start: int, count: int, head: int,
                 rows) -> bool:
    """``model_pos``: log_position -> (stream, number, id) for every event
    the model knows; positions it does not know belong to system streams
    the engine writes itself (projection bookkeeping) and are only
    checked for order and density."""
    pos = [r["log_position"] for r in rows]
    ok = pos == list(range(start, start + len(pos))) and \
        len(pos) == min(count, max(0, head - start + 1))
    for r in rows:
        want = model_pos.get(r["log_position"])
        if want is not None and want != (r["stream_id"], r["event_number"], r["event_id"]):
            return False
    return ok


# ---------------------------------------------------------------- write_grow
def write_grow(run: Run) -> None:
    sz = run.sizes
    episodes, grow_s = 0, 0.0
    while episodes < sz["wg_min_episodes"] or grow_s < run.seconds:
        grow_s += _wg_episode(run, episodes)
        episodes += 1


def _wg_episode(run: Run, e: int) -> float:
    sz = run.sizes
    rng = random.Random(f"{run.seed}-write_grow-{e}")
    path = run.store_dir(f"write_grow-{e}")
    model = Model()
    hot = [f"account-{k}" for k in range(sz["wg_hot"])]
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(hot))]

    t = time.perf_counter()
    eng = EventStoreEngine(run.spark, path)
    for s in hot:
        _append(run, eng, model, s, rng, "append_new")
    run.add("setup_s", time.perf_counter() - t)

    every = sz["wg_every"]
    clock = run.cycle_start()
    commits = 0
    for i in range(sz["wg_commits"]):
        if i % every == every // 5:
            s = rng.choices(hot, weights)[0]
            _stale_probe(run, eng, model, s, rng, use_no_stream=(i // every) % 2 == 1)
        if i % every == every // 2:
            dt, _ = _append(run, eng, model, f"order-{e}-{i}", rng, "append_new")
            run.add("new_stream_append_ms", dt * 1000)
        else:
            dt, dc = _append(run, eng, model, rng.choices(hot, weights)[0], rng, "append")
            run.add("append_ms", dt * 1000)
            run.add("append_cpu_ms", dc * 1000)
        commits += 1
    run.cycle_end(clock)
    grow = run.samples["cycle_s"][-1]
    run.add("appends_per_s", commits / grow)

    # the whole log read back through $all must equal the model
    rows, _, _ = _read_all_rows(run, eng, 0, len(model.order) + 10)
    model_pos = {i + 1: ev for i, ev in enumerate(model.order)}
    ok = _all_page_ok(model_pos, 1, len(model.order) + 10, len(model.order), rows)
    seen: dict[str, int] = {}
    dense = True
    for r in rows:
        n = seen.get(r["stream_id"], -1) + 1
        dense &= r["event_number"] == n
        seen[r["stream_id"]] = n
    run.verify(ok and dense,
               f"episode {e}: log holds {len(rows)} events, model {len(model.order)}, "
               f"dense per-stream numbering {dense}")
    eng.close()
    run.record_store(path, model.payload_bytes)
    run.add("space_amp", run.facts["store.total_bytes"] / model.payload_bytes)
    if e > 0:
        shutil.rmtree(os.path.join(run.work, f"write_grow-{e - 1}"), ignore_errors=True)
    return grow


# ----------------------------------------------------------------- read_tail
def _rt_build(run: Run, b: int):
    sz = run.sizes
    rng = random.Random(f"{run.seed}-read_tail")  # every build is identical
    path = run.store_dir(f"read_tail-{b}")
    model = Model()
    streams = [f"tail-{k}" for k in range(sz["rt_streams"])]
    t = time.perf_counter()
    eng = EventStoreEngine(run.spark, path)
    for c in range(sz["rt_commits"]):
        s = streams[c] if c < len(streams) else rng.choice(streams)
        _append_batch(run, eng, model, s, rng, 10)
    run.add("setup_s", time.perf_counter() - t)
    return path, eng, model, streams, rng


def _page_cycle(run: Run, eng, model: Model, streams: list[str],
                rng: random.Random, model_pos: dict, sample: bool) -> None:
    """read_stream_page (100 events from a random stream and offset), then
    read_all_page (500 events from a random position)."""
    s = rng.choice(streams)
    start = rng.randrange(max(1, len(model.streams[s]) - 50))
    rows, dt, dc = _read_stream_rows(run, eng, s, start, 100)
    _check_stream_page(run, model, s, start, 100, rows)
    if sample:
        run.add("stream_read_ms", dt * 1000)
        run.add("read_cpu_ms", dc * 1000)
    head = max(model_pos)
    start = rng.randint(1, max(1, head - 250))
    rows, dt, dc = _read_all_rows(run, eng, start, 500)
    run.verify(_all_page_ok(model_pos, start, 500, run.facts.get("log_head", head), rows),
               f"$all page @{start}: positions or rows differ from the model")
    if sample:
        run.add("all_read_ms", dt * 1000)
        run.add("read_cpu_ms", dc * 1000)


def _rt_cycle(run: Run, eng, model: Model, streams, rng, sample: bool) -> None:
    clock = run.cycle_start()
    for _ in range(run.sizes["rt_burst"]):
        dt, dc = _append(run, eng, model, rng.choice(streams), rng, "append")
        if sample:
            run.add("append_ms", dt * 1000)
            run.add("append_cpu_ms", dc * 1000)
    last_pos = len(model.order)  # single writer: positions are dense from 1
    stream, number, eid = model.order[-1]
    run.attempted += 1
    t_ack = time.perf_counter()
    with run.op("poll"):
        rows = eng.poll_all(last_pos, max_count=10, timeout_s=60.0).select(
            "log_position", "stream_id", "event_number", "event_id").collect()
    visible = time.perf_counter() - t_ack
    run.verify(
        [tuple(r) for r in rows] == [(last_pos, stream, number, eid)],
        f"poll_all from {last_pos} returned {len(rows)} rows, not the appended event")
    if sample:
        run.add("poll_visible_ms", visible * 1000)
    model_pos = {i + 1: ev for i, ev in enumerate(model.order)}
    _page_cycle(run, eng, model, streams, rng, model_pos, sample)
    if sample:
        run.cycle_end(clock)


def read_tail(run: Run) -> None:
    sz = run.sizes
    for b in range(sz["setups"]):
        if b:
            eng.close()
            shutil.rmtree(path, ignore_errors=True)
        path, eng, model, streams, rng = _rt_build(run, b)
    for _ in range(sz["rt_warmup"]):
        _rt_cycle(run, eng, model, streams, rng, sample=False)
    t0 = time.perf_counter()
    cycles = 0
    while cycles < sz["rt_min_cycles"] or time.perf_counter() - t0 < run.seconds:
        _rt_cycle(run, eng, model, streams, rng, sample=True)
        cycles += 1

    # once per run: close and reopen the engine over the store, then one
    # exact-version append proves the reopened writer recovered the head
    eng.close()
    run.attempted += 1
    with run.op("reopen"):
        t = time.perf_counter()
        eng = EventStoreEngine(run.spark, path)
        run.add("reopen_s", time.perf_counter() - t)
    _append(run, eng, model, streams[0], rng, "append_first")
    eng.close()
    run.record_store(path, model.payload_bytes)


# ----------------------------------------------------------------- fold_scan
def _generate_app_events(run: Run, path: str):
    """Seeded app events in the shape of the test data's events.parquet
    (the input of ``envelope_from_app_events``)."""
    sz = run.sizes
    rng = np.random.default_rng(run.seed)
    n = sz["fs_events"]
    ts = np.sort(rng.integers(1_704_067_200_000_000, 1_706_659_200_000_000, n))
    table = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, sz["fs_users"], n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
    }
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(table), os.path.join(path, "events.parquet"))
    return table


def _fs_model(table) -> tuple[Model, dict]:
    """The envelope as append_df lays it out: per-stream blocks in stream
    id order, each in (ts, event_id) order; plus per-event values."""
    model = Model()
    per_user: dict[str, list[int]] = {}
    for i, u in enumerate(table["user_id"].tolist()):
        per_user.setdefault(f"user-{u}", []).append(i)
    values = {}
    types = table["event_type"].tolist()
    vals = table["value"].tolist()
    props = table["props"]
    for sid in sorted(per_user):
        for i in per_user[sid]:
            ev = ProposedEvent(types[i], props[i],
                               json.dumps({"value": vals[i]}, separators=(",", ":")),
                               event_id=str(i))
            model.add(sid, ev)
            values[str(i)] = (types[i], vals[i])
    return model, values


def _fold_reference(model: Model, values: dict) -> dict[str, dict]:
    ref: dict[str, dict] = {}
    for sid, ids in model.streams.items():
        for eid in ids:
            et, v = values[eid]
            if et in ("purchase", "error"):
                st = ref.setdefault(sid, {"n": 0, "cents": 0})
                st["n"] += 1
                st["cents"] += int(round(v * 100)) * (1 if et == "purchase" else -1)
    return ref


def _log_positions(run: Run, eng, model: Model) -> dict:
    """log_position of every model event, read once from the log (bulk
    positions are assigned by the writer, not predictable per row)."""
    rows = eng.writer.load().select("log_position", "stream_id", "event_number",
                                    "event_id").collect()
    known = {(s, n): eid for s, n, eid in model.order}
    out = {}
    for r in rows:
        key = (r["stream_id"], r["event_number"])
        if key in known:
            out[r["log_position"]] = (key[0], key[1], known[key])
    run.facts["log_head"] = max(r["log_position"] for r in rows)
    run.facts["log_count"] = len(rows)
    return out


def fold_scan(run: Run) -> None:
    sz = run.sizes
    src = os.path.join(run.work, "fold_scan-src")
    table = _generate_app_events(run, src)
    for b in range(sz["setups"]):
        if b:
            eng.close()
            shutil.rmtree(path, ignore_errors=True)
        path = run.store_dir(f"fold_scan-{b}")
        t = time.perf_counter()
        eng = EventStoreEngine(run.spark, path)
        env = envelope_from_app_events(run.spark.read.parquet(os.path.join(src, "events.parquet")))
        run.attempted += 1
        with run.op("append_df"):
            eng.writer.append_df(env.select(
                "stream_id", "event_type", "data", "metadata", "event_id",
                F.col("log_position").alias("source_log_position")))
        run.add("setup_s", time.perf_counter() - t)
    model, values = _fs_model(table)
    rng = random.Random(f"{run.seed}-fold_scan")
    users = sorted(model.streams)
    burst_streams = users[:sz["fs_burst_streams"]]

    # warm-up: the bulk append leaves the writer's per-stream cache cold,
    # so the first append() to each burst stream scans the log; do those
    # first touches here, untimed
    for s in burst_streams:
        _fs_append(run, eng, model, values, s, rng, kind="append_first")
    spec = (
        Projection.from_category("user", name="balance")
        .foreach_stream()
        .when({"$init": handlers.init, "purchase": handlers.purchase,
               "error": handlers.error})
        .columns("metadata")
    )
    run.attempted += 1
    eng.create_projection(spec)
    # and one unmanaged fold over the same source, which starts Spark's
    # Python workers and compiles the fold's plan before anything is timed
    run.attempted += 1
    with run.op("fold_warmup"):
        run_batch(spec, eng.events()).states.count()

    t0 = time.perf_counter()
    cycles = 0
    while cycles == 0 or time.perf_counter() - t0 < run.seconds:
        _fs_cycle(run, eng, model, values, burst_streams, users, rng, cycles)
        cycles += 1
    eng.close()
    run.record_store(path, model.payload_bytes)


def _fs_append(run: Run, eng, model: Model, values: dict, stream: str,
               rng: random.Random, kind: str = "append") -> tuple[float, float]:
    et = rng.choice(("purchase", "error"))
    v = round(rng.uniform(0.01, 500.0), 2)
    out = _append(run, eng, model, stream, rng, kind, event_type=et,
                  data=json.dumps({"k": rng.randrange(100)}),
                  metadata=json.dumps({"value": v}))
    values[model.streams[stream][-1]] = (et, v)
    return out


def _fs_cycle(run: Run, eng, model: Model, values: dict, burst_streams,
              users, rng: random.Random, cycle: int) -> None:
    clock = run.cycle_start()
    for k in range(run.sizes["fs_burst"]):
        dt, dc = _fs_append(run, eng, model, values, burst_streams[k % len(burst_streams)], rng)
        run.add("append_ms", dt * 1000)
        run.add("append_cpu_ms", dc * 1000)

    # 1. per-stream fold through the managed projection surface
    run.attempted += 1
    with run.op("fold"):
        c = run.cpu_s()
        t = time.perf_counter()
        res = eng.run_projection("balance")
        states = res.states.collect()
        fold = time.perf_counter() - t
        run.add("fold_cpu_s", run.cpu_s() - c)
    with run.checking():
        ref = _fold_reference(model, values)
        got = {r["partition"]: json.loads(r["state"]) for r in states}
    run.verify(got == ref, f"fold states differ from the Python reference "
                           f"({len(got)} vs {len(ref)} partitions)")
    n_src = sum(st["n"] for st in ref.values())
    run.add("fold_ms", fold * 1000)
    run.add("fold_events_per_s", n_src / fold)

    # 2. available_now catch-up drain of $all into a memory sink
    name = f"perfbench_catchup_{cycle}"
    run.attempted += 1
    with run.op("catchup"):
        t = time.perf_counter()
        q = subscriptions.start_to_memory(
            eng.subscribe(), name, os.path.join(run.work, f"ckpt-{cycle}"),
            available_now=True)
        q.awaitTermination(120)
        drained = run.spark.table(name).count()
        drain = time.perf_counter() - t
    progress = q.recentProgress
    q.stop()
    run.spark.catalog.dropTempView(name)
    with run.checking():
        model_pos = _log_positions(run, eng, model)
    run.verify(drained == run.facts["log_count"],
               f"catch-up drained {drained} rows, the log holds {run.facts['log_count']}")
    run.add("catchup_events_per_s", drained / drain)
    run.add("subscriptions.microbatches", len(progress))
    run.add("subscriptions.trigger_ms",
            sum(p["durationMs"].get("triggerExecution", 0) for p in progress))
    run.add("subscriptions.input_rows", sum(p["numInputRows"] for p in progress))

    # 3. $ce-user category read, checked against the model's log order
    user_order = [model_pos[p] for p in sorted(model_pos)]
    start = rng.randrange(max(1, len(user_order) - 200))
    run.attempted += 1
    with run.op("category"):
        t = time.perf_counter()
        rows = eng.read_stream("$ce-user", start, 200).select(
            "event_number", "data").collect()
        run.add("category_read_ms", (time.perf_counter() - t) * 1000)
    want = [(start + i, f"{n}@{s}") for i, (s, n, _e) in enumerate(user_order[start:start + 200])]
    run.verify([tuple(r) for r in rows] == want,
               f"$ce-user @{start}: {len(rows)} rows differ from the model")

    # 4. the same stream and $all pages as read_tail
    _page_cycle(run, eng, model, users, rng, model_pos, sample=True)
    run.cycle_end(clock)


WORKLOADS = {
    "write_grow": write_grow,
    "read_tail": read_tail,
    "fold_scan": fold_scan,
}
