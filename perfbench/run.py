"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``perfbench/workloads.py``) in one Python process
driving ``local[<cpus>]``, prints a human-readable table and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  Generated inputs, the Spark scratch space, the
event log and the ingest store live in ``.perfbench/`` at the repository
root.  The launch environment is fixed here so that every run, on either
side of an A/B, starts the engine the same way.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "mediachain_indexer_spark"
DRIVER_MEM = "6g"  # the engine's default 16g pre-touched heap does not fit a 15 GB host

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("items_per_s", "1/s"),
)
LAYERS = ("normalize", "blocking", "pairs", "scoring", "cluster", "merge", "search")
GENERIC = (
    ("wall_s", "s"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("jobs", "count"),
    ("failed_tasks", "count"),
)
SPECIFIC = (
    ("session.start_s", "s"),
    ("normalize.rows_out", "rows"),
    ("blocking.rows_out", "rows"),
    ("pairs.rows_out", "rows"),
    ("pairs.cache_mb", "MB"),
    ("scoring.match_yield", "ratio"),
    ("cluster.edges_in", "rows"),
    ("cluster.components", "count"),
    ("merge.rows_upserted", "rows"),
    ("merge.rows_rewritten", "rows"),
    ("merge.write_amp", "ratio"),
    ("merge.store_files", "count"),
    ("ingest.reassigned_per_doc", "ratio"),
    ("ingest.self_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.traced_op_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage", "ratio"),
)


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC}
    units.update(SPECIFIC)
    return units


def launch_env() -> dict[str, str]:
    """The host-fit environment every run starts the engine with.

    Spark's scratch space (shuffle files, spills) goes under the checkout
    because a run may write nowhere else; the engine's own default would be
    a tmpfs at /dev/shm."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    return {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,  # Python workers import the engine package too
    }


def spark_conf(log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait for
    every process it started, killing any still alive after 30 s."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if proc is not None:
            proc.wait()
        while any(_alive(p) for p in procs):
            time.sleep(0.05)


def end_to_end(session_s: float, outcome) -> tuple[dict, list[str]]:
    s = outcome.loop.summary()
    values = {
        "setup_s": session_s + outcome.program_setup_s,
        "latency_p50_s": s["latency_p50_s"],
        "items_per_s": s["items_per_s"],
    }
    lines = [f"  {n:<16} {values[n]:>14.4f} {u}" for n, u in END_TO_END]
    t = s.get("latency_tail")
    lines.append(
        f"  {'latency_tail_s':<16} {t['value_s']:>14.4f} s  (p{t['percentile']:g}, {t['beyond']} samples beyond, n={s['attempted']})"
        if t
        else f"  {'latency_tail_s':<16} {'-':>14}    (n={s['attempted']} ops: too few for any percentile with 10 beyond)"
    )
    lines.append(f"  op latencies (s): {' '.join(f'{x:.3f}' for x in outcome.loop.latencies)}")
    lines.append(f"  {'cache_peak_mb':<16} {outcome.cache_peak_mb:>14.4f} MB")
    lines.append(f"  {'error_rate':<16} {s['error_rate']:>14.4f} ratio  ({s['failed']}/{s['attempted']} ops failed)")
    lines.append(
        f"  {'f1':<16} {outcome.f1:>14.4f} ratio" if outcome.f1 is not None
        else f"  {'f1':<16} {'-':>14}    (no entity table in this workload)"
    )
    return values, lines


def per_layer(session_s: float, outcome, tracer, folded: dict, traced_flags: list[bool]) -> dict:
    """Per-layer metrics, each a mean per traced op (store_files: at the end)."""
    n = max(1, len(outcome.op_spans))
    walls = defaultdict(float)
    for sp in tracer.spans:
        walls[sp.layer] += sp.wall
    m = {}
    for layer in LAYERS:
        g = folded.get(layer, {})
        m[f"{layer}.wall_s"] = walls[layer] / n
        for key, _ in GENERIC[1:]:
            m[f"{layer}.{key}"] = g.get(key, 0) / n
    c = outcome.counters
    m["session.start_s"] = session_s
    for key in ("normalize.rows_out", "blocking.rows_out", "pairs.rows_out", "pairs.cache_mb",
                "cluster.edges_in", "cluster.components", "merge.rows_upserted", "merge.rows_rewritten"):
        m[key] = c.get(key, 0) / n
    m["merge.store_files"] = c.get("merge.store_files", 0)
    ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
    m["scoring.match_yield"] = ratio(c.get("scoring.matches", 0), c.get("scoring.pairs_scored", 0))
    m["merge.write_amp"] = ratio(c.get("merge.rows_rewritten", 0), c.get("merge.rows_upserted", 0))
    m["ingest.reassigned_per_doc"] = ratio(c.get("ingest.reassigned", 0), c.get("ingest.docs_in", 0))
    m["ingest.self_s"] = sum(
        tracer.self_time(j) for j, sp in enumerate(tracer.spans) if sp.layer == "ingest"
    ) / n
    lat = outcome.loop.latencies
    traced = [x for x, t in zip(lat, traced_flags) if t]
    untraced = [x for x, t in zip(lat, traced_flags) if not t]
    m["trace.traced_op_s"] = statistics.median(traced)
    if untraced:
        m["trace.untraced_op_s"] = statistics.median(untraced)
    else:  # every op traced: the trace's extra work is its counting spans
        m["trace.untraced_op_s"] = statistics.median(
            op_s - sum(s.wall for s in tracer.spans if s.op == tracer.spans[idx].op and s.layer == "trace")
            for op_s, idx in zip(traced, outcome.op_spans)
        )
    m["trace.overhead_s"] = m["trace.traced_op_s"] - m["trace.untraced_op_s"]
    # share of each traced op's latency inside the op span's child spans
    covered = [
        sum(s.wall for s in tracer.spans if s.parent == idx) / op_s
        for idx, op_s in zip(outcome.op_spans, traced)
    ]
    m["trace.span_coverage"] = statistics.median(covered)
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.update(launch_env())
    sys.path[:0] = [ROOT]
    for d in ("spark-local", "tmp", "eventlog"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    paths = workloads.corpora(WORK, args.workload, args.seed)

    from mediachain_indexer_spark.session import get_spark

    from perfbench.tracing import Tracer, find_event_log, fold_event_log

    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(log_dir))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    ctx = workloads.Ctx(spark, WORK, args.seed, args.seconds, tracer)
    try:
        outcome = workloads.WORKLOADS[args.workload](ctx, paths)
    finally:
        stop_engine(spark)

    loop = outcome.loop
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']} driver_mem={DRIVER_MEM}")
    for note in outcome.notes:
        print(f"  NOTE {note}")
    if args.trace:
        traced_flags = [workloads.traced_op(ctx, j) for j in range(loop.attempted)]
        tracer.dump(os.path.join(WORK, "spans.jsonl"))
        values = per_layer(
            session_s, outcome, tracer, fold_event_log(find_event_log(log_dir)), traced_flags
        )
        units = per_layer_units()
        print("  op latencies (U untraced, T traced): " + " ".join(
            f"{'T' if t else 'U'}{x:.3f}" for x, t in zip(loop.latencies, traced_flags)))
        print(f"  per-layer, mean per traced op ({len(outcome.op_spans)} traced):")
        for layer in LAYERS:
            row = "  ".join(f"{k}={values[f'{layer}.{k}']:.4g}" for k, _ in GENERIC)
            print(f"    {layer:<10} {row}")
        for name, unit in SPECIFIC:
            print(f"    {name:<27} {values[name]:>12.4f} {unit}")
    else:
        values, lines = end_to_end(session_s, outcome)
        units = dict(END_TO_END)
        print("\n".join(lines))
    correct = loop.failed == 0 and all(math.isfinite(v) for v in values.values())
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
