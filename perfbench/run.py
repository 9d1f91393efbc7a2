"""Event-store benchmark: write_grow, read_tail and fold_scan.

Run from the checkout root:

    python3 perfbench/run.py --workload read_tail --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload read_tail --seed 1 --seconds 1 --trace 0 --smoke

One process, one Spark session on ``local[nproc]`` (``SPARK_GRAFT_CPUS``
is set from the CPU count), one closed-loop client thread. It prints
every metric by name with its unit and sample count, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` the ``per_layer`` list, measured with
spans around every layer call (see trace.py). The exit code is 1 when
any output check failed, 2 when the library is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("write_grow", "read_tail", "fold_scan")
PERCENTILES = (99, 95, 90, 75)


def _configure_env(work: str) -> None:
    """Everything the session needs before the JVM starts: cores from the
    CPU count, workers that can import the checkout, and every temp
    file inside the run's work directory."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # the library's deployment knob for shuffle width (session.py): one
    # partition per core suits this box's kilobyte-sized shuffles
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # compiler threads stay for the JVM's life, so the JIT's CPU
        # time can be told apart from the work's (workloads.Run.cpu_s)
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ metrics
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _high_percentile(xs) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    import numpy as np

    for p in PERCENTILES:
        if len(xs) * (100 - p) / 100 >= 10:
            return p, float(np.percentile(xs, p))
    return None


def end_to_end(name: str, run) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) for every end-to-end metric the
    workload produces."""
    s = run.samples
    out: dict[str, tuple[float, str, int]] = {}

    def timing(metric: str, series: str, unit: str) -> None:
        xs = s.get(series, [])
        if not xs:
            return
        out[f"{metric}_p50_{unit}" if unit == "ms" else metric] = (_median(xs), unit, len(xs))
        hi = _high_percentile(xs) if unit == "ms" else None
        if hi:
            out[f"{metric}_p{hi[0]}_{unit}"] = (hi[1], unit, len(xs))

    out["setup_s"] = (_median(s["setup_s"]), "s", len(s["setup_s"]))
    out["cycle_s"] = (_median(s["cycle_s"]), "s", len(s["cycle_s"]))
    out["cycle_cpu_s"] = (_median(s["cycle_cpu_s"]), "s", len(s["cycle_cpu_s"]))
    timing("append", "append_ms", "ms")
    timing("append_cpu", "append_cpu_ms", "ms")
    if name == "write_grow":
        timing("new_stream_append", "new_stream_append_ms", "ms")
        out["appends_per_s"] = (_median(s["appends_per_s"]), "1/s", len(s["appends_per_s"]))
        out["space_amp"] = (_median(s["space_amp"]), "ratio", len(s["space_amp"]))
    if name in ("read_tail", "fold_scan"):
        timing("stream_read", "stream_read_ms", "ms")
        timing("all_read", "all_read_ms", "ms")
        timing("read_cpu", "read_cpu_ms", "ms")
    if name == "read_tail":
        timing("poll_visible", "poll_visible_ms", "ms")
        out["reopen_s"] = (_median(s["reopen_s"]), "s", len(s["reopen_s"]))
    if name == "fold_scan":
        out["fold_events_per_s"] = (_median(s["fold_events_per_s"]), "1/s",
                                    len(s["fold_events_per_s"]))
        out["fold_cpu_s"] = (_median(s["fold_cpu_s"]), "s", len(s["fold_cpu_s"]))
        out["catchup_events_per_s"] = (_median(s["catchup_events_per_s"]), "1/s",
                                       len(s["catchup_events_per_s"]))
        timing("category_read", "category_read_ms", "ms")
    out["failed_op_share"] = (run.failed / max(run.attempted, 1), "ratio", run.attempted)
    return out


def per_layer(run, tracer, session_s: float) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) from the traced run's spans, the
    Spark job statistics of each operation, and the store's size."""
    from perfbench.trace import mean, median

    def span_ms(name: str, stat=median, attr: str = "dur_ms"):
        sp = tracer.spans_named(name)
        return stat([getattr(x, attr) for x in sp]), "ms", len(sp)

    def ops(kinds, field: str, stat=mean, unit: str = "count"):
        os_ = tracer.ops_of(*kinds)
        vals = [o.wall_ms - o.job_ms if field == "gap" else getattr(o, field) for o in os_]
        return stat(vals), unit, len(os_)

    s, f = run.samples, run.facts
    reads = ("read_stream", "read_all")
    resolved = [x.n for x in tracer.spans_named("manifest.resolve_files")]
    m = {
        "session.get_spark_s": (session_s, "s", 1),
        "writer.append.self_ms": span_ms("writer.append", attr="self_ms"),
        "writer.append.spark_jobs_hot": ops(("append",), "jobs"),
        "writer.append.spark_jobs_new": ops(("append_new",), "jobs"),
        "writer.parquet_write_ms": span_ms("writer.parquet_write"),
        "writer.load_ms": span_ms("writer.load"),
        "writer.load.files": (mean(resolved), "count", len(resolved)),
        "writer.open_ms": span_ms("writer.open"),
        "manifest.append_files_ms": span_ms("manifest.append_files"),
        "manifest.latest_ms": span_ms("manifest.latest"),
        "manifest.history_ms": span_ms("manifest.history"),
        "manifest.resolve_files_ms": span_ms("manifest.resolve_files"),
        "manifest.generations": (f["manifest.generations"], "count", 1),
        "manifest.bytes": (f["manifest.bytes"], "B", 1),
        "read.plan_ms": (median(s.get("read_plan_ms", [])), "ms", len(s.get("read_plan_ms", []))),
        "read.collect_ms": (median(s.get("read_collect_ms", [])), "ms",
                            len(s.get("read_collect_ms", []))),
        "read.spark_jobs": ops(reads, "jobs"),
        "read.spark_tasks": ops(reads, "tasks"),
        "read.stage_run_ms": ops(reads, "job_ms", median, "ms"),
        "read.driver_gap_ms": ops(reads, "gap", median, "ms"),
        "poll.probe_jobs": ops(("poll",), "jobs"),
        "projection.plan_ms": span_ms("runtime.run_batch"),
        "projection.spark_jobs": ops(("fold",), "jobs"),
        "projection.stage_run_ms": ops(("fold",), "job_ms", median, "ms"),
        "projection.shuffle_write_bytes": ops(("fold",), "shuffle_write_bytes", mean, "B"),
        "subscriptions.microbatches": (sum(s.get("subscriptions.microbatches", [])), "count",
                                       len(s.get("subscriptions.microbatches", []))),
        "subscriptions.trigger_ms": (sum(s.get("subscriptions.trigger_ms", [])), "ms",
                                     len(s.get("subscriptions.trigger_ms", []))),
        "subscriptions.input_rows": (sum(s.get("subscriptions.input_rows", [])), "count",
                                     len(s.get("subscriptions.input_rows", []))),
        "category.spark_jobs": ops(("category",), "jobs"),
        "category.stage_run_ms": ops(("category",), "job_ms", median, "ms"),
        "store.parquet_files": (f["store.parquet_files"], "count", 1),
        "store.parquet_bytes": (f["store.parquet_bytes"], "B", 1),
        "store.payload_bytes": (f["store.payload_bytes"], "B", 1),
        "trace.spans": (len(tracer.spans), "count", 1),
        "trace.overhead_ms": (len(tracer.spans) * tracer.per_span_cost_ms + tracer.stats_ms,
                              "ms", len(tracer.spans)),
    }
    return m


def _print_table(title: str, metrics: dict) -> None:
    print(f"== {title}")
    for name, (value, unit, n) in metrics.items():
        print(f"   {name:34s} {value:16.4f} {unit:6s} n={n}")


# --------------------------------------------------------------------- main
def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="how long each workload's measured loop runs (at least one cycle)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes (tens of commits, a 200-event envelope) to check the harness")
    return ap.parse_args()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "eventstore_spark", "__init__.py")):
        print(f"perfbench: the eventstore_spark library is not in {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    sys.path.insert(0, ROOT)

    from eventstore_spark import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Run

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    sizes = SIZES["smoke" if args.smoke else "full"]
    print(f"perfbench: workloads={','.join(names)} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} smoke={args.smoke} cpus={os.environ['SPARK_GRAFT_CPUS']}")
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    results = {}
    try:
        for name in names:
            tracer = Tracer(spark) if args.trace else None
            if tracer:
                tracer.install()
            run = Run(spark, os.path.join(work, name), args.seed, args.seconds, sizes, tracer)
            try:
                WORKLOADS[name](run)
            finally:
                if tracer:
                    tracer.uninstall()
            e2e = end_to_end(name, run)
            _print_table(f"{name}: end-to-end (session start {session_s:.3f} s, not part "
                         f"of setup_s; {time.perf_counter() - T_START:.1f} s since launch)", e2e)
            layers = None
            if tracer:
                layers = per_layer(run, tracer, session_s)
                _print_table(f"{name}: per layer", layers)
                _print_table(f"{name}: self time per layer (whole run)", {
                    k: (v, "ms", 0) for k, v in sorted(tracer.layer_self_ms().items())})
                tracer.dump(os.path.join(base, f"spans-{name}.jsonl"))
                _print_overhead(base, name, e2e)
            else:
                _save(base, name, e2e)
            for err in run.errors:
                print(f"   CHECK FAILED: {err}")
            results[name] = (run, layers if args.trace else e2e)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: stopped {time.perf_counter() - T_START:.1f} s after launch")

    attempted = sum(r.attempted for r, _ in results.values())
    failed = sum(r.failed for r, _ in results.values())
    metrics = {}
    for name, (_run, got) in results.items():
        prefix = "" if len(results) == 1 else f"{name}."
        for m in wanted:
            if m["name"] not in got:
                print(f"perfbench: {name} produced no {m['name']}", file=sys.stderr)
                return 1
            metrics[prefix + m["name"]] = {"value": got[m["name"]][0], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _save(base: str, name: str, e2e: dict) -> None:
    with open(os.path.join(base, f"last-{name}-trace0.json"), "w") as fh:
        json.dump({k: v[0] for k, v in e2e.items()}, fh)


def _print_overhead(base: str, name: str, e2e: dict) -> None:
    """Tracing overhead: this traced run's end-to-end figures against the
    last untraced run of the same workload in this checkout."""
    try:
        with open(os.path.join(base, f"last-{name}-trace0.json")) as fh:
            plain = json.load(fh)
    except FileNotFoundError:
        print("== tracing overhead: no untraced run of this workload recorded yet")
        return
    rows = {k: ((v[0] - plain[k]) / plain[k] * 100, "%", v[2])
            for k, v in e2e.items() if plain.get(k)}
    _print_table(f"{name}: tracing overhead (traced vs last untraced run)", rows)


if __name__ == "__main__":
    sys.exit(main())
