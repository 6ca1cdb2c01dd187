"""Repository benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload cc_hub --seed 1 --seconds 4 --trace 0

Run from the repository root.  One process, one client: the next
operation starts when the previous one has finished, on a
``local[k]`` session with k = min(4, cores).  Inputs come from
``--seed``; every operation's output is checked outside its timed
region.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run (see ``tracer.py``).  The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Scratch files (Spark local dirs, generated tables, span files) go to
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import meters  # noqa: E402
import stats  # noqa: E402

#: the metrics of the result line with --trace 0, reported for every
#: workload; work_per_s counts edges, documents or queries (see
#: WORK_NAME); failed_frac is printed with the readout, the result
#: line carries it as attempted and failed
END_TO_END = [
    ("setup_s", "s"),
    ("run_s", "s"),
    ("work_per_s", "items/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]
WORK_NAME = {"edges": "edges_per_s", "docs": "docs_per_s", "queries": "queries_per_s"}

SPANS = [
    "graph.cc",
    "operators.dedup.signatures",
    "operators.dedup.candidates",
    "operators.dedup.verify",
    "operators.dedup.prefix_join",
    "queries.relational.build",
    "queries.relational.exec",
]
SPAN_BASE = [
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("exec_cpu_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"),
    ("driver_gap_s", "s"),
]
SPAN_EXTRAS = {
    "graph.cc": [
        ("rounds", "count"),
        ("pairs_total", "count"),
        ("shuffle_bytes_per_edge", "B/edge"),
        ("salted_from_round", "round"),
        ("hot_task_ratio", "ratio"),
    ],
    "operators.dedup.signatures": [("rows_out", "count")],
    "operators.dedup.candidates": [("pairs_out", "count")],
    "operators.dedup.verify": [("pairs_out", "count"), ("precision", "ratio")],
    "operators.dedup.prefix_join": [
        ("pairs_out", "count"),
        ("join_rows_out", "count"),
        ("yield", "ratio"),
    ],
    "queries.relational.exec": [("input_bytes", "B")],
}
OTHER_LAYER = [
    ("operators.skew.salted_join_calls", "count"),
    ("queries.relational.jobs_per_query", "count"),
    ("trace.run_s_untraced", "s"),
    ("trace.run_s_traced", "s"),
    ("trace.cost_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    out = []
    for span in SPANS:
        for field, unit in SPAN_BASE + SPAN_EXTRAS.get(span, []):
            out.append((f"{span}.{field}", unit))
    return out + OTHER_LAYER


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work_dir: str):
    from connected_component_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # a fixed, pre-touched heap: with a growing heap the JVM's
            # peak RSS followed GC sizing decisions and varied by ~20%
            # between runs; heap demand now shows as GC time in run_s
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp_dir} -Xms1g -XX:+AlwaysPreTouch"
            ),
            # the traced run reads every job of the run at exit
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: rounds of operations start until ``seconds`` have
    passed.  A round is every distinct operation of the workload once
    (one for the CC and dedup workloads, the 11 queries for query_mix),
    so each run times the same mix whatever its length."""
    samples = []
    t_begin = time.perf_counter()
    while (
        not samples
        or len(samples) % wl.round_ops
        or time.perf_counter() - t_begin < seconds
    ):
        op_id = len(samples)
        cpu0 = meters.tree_cpu_seconds([os.getpid()])
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = wl.op()
            else:
                tracer.op_id = op_id
                with tracer.span("op"):
                    result = wl.op()
            ok = True
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation {op_id} failed: {e!r}", file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        cpu = meters.tree_cpu_seconds([os.getpid()]) - cpu0
        if ok:
            try:
                ok = wl.check(result)
            except Exception as e:
                print(f"check of operation {op_id} failed: {e!r}", file=sys.stderr)
                ok = False
        samples.append({"wall": wall, "cpu": cpu, "ok": ok})
    return samples


def layer_metrics(tracer, run_untraced: float, run_traced: float) -> dict:
    """Per-layer values: per operation, each span name's numbers summed
    over its spans; then the median over the operations it ran in."""
    per_op: dict[str, dict[int, dict]] = {}
    for s in tracer.spans:
        rec = {"wall_s": s.wall_s, "self_s": s.self_s, **s.counters, **s.extras}
        if s.name == "graph.cc":
            rec["hot_task_ratio"] = tracer.hot_task_ratio(s)
        slot = per_op.setdefault(s.name, {}).setdefault(s.op_id, {})
        for k, v in rec.items():
            slot[k] = slot.get(k, 0) + v

    def med(span: str, field: str) -> float:
        vals = [rec.get(field, 0) for rec in per_op.get(span, {}).values()]
        return float(stats.median(vals)) if vals else 0.0

    out = {}
    for span in SPANS:
        for field, unit in SPAN_BASE + SPAN_EXTRAS.get(span, []):
            if field == "shuffle_bytes_per_edge":
                value = stats.ratio(med(span, "shuffle_write_bytes"), med(span, "edges_in"))
            else:
                value = med(span, field)
            out[f"{span}.{field}"] = (value, unit)
    n_queries = len(per_op.get("queries.relational.exec", {}))
    query_jobs = sum(
        rec.get("jobs", 0)
        for span in ("queries.relational.build", "queries.relational.exec")
        for rec in per_op.get(span, {}).values()
    )
    n_traced_ops = len(per_op.get("op", {})) or 1
    values = {
        "operators.skew.salted_join_calls": getattr(tracer, "salted_join_calls", 0)
        / n_traced_ops,
        "queries.relational.jobs_per_query": stats.ratio(query_jobs, n_queries),
        "trace.run_s_untraced": run_untraced,
        "trace.run_s_traced": run_traced,
        "trace.cost_s": run_traced - run_untraced,
    }
    for name, unit in OTHER_LAYER:
        out[name] = (values[name], unit)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(ROOT, ".perfbench_work")
    spark = start_session(work_dir)
    try:
        return run(spark, args, work_dir)
    finally:
        stop_session(spark)


def run(spark, args, work_dir: str) -> int:
    import workloads

    session_s = time.time() - PROCESS_START
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, work_dir)
    t0 = time.perf_counter()
    rows, checksum = wl.prepare()
    prep_s = time.perf_counter() - t0
    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)
    input_ok = True
    if args.seed == pinned["seed"]:
        want = pinned["inputs"][args.workload]
        input_ok = [rows, str(checksum)] == [want["rows"], want["checksum"]]
    t0 = time.perf_counter()
    flags = wl.warmup()
    warm_s = time.perf_counter() - t0
    # set-up is timed once, from process start: the JVM start, the first
    # (cold) jobs and the warm-up happen once per process, and a repeated
    # input preparation would run warm and hide that cost
    setup_s = time.time() - PROCESS_START
    gc.collect()
    spark._jvm.System.gc()

    tracer = None
    if args.trace:
        from tracer import Tracer

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        samples = measure(wl, args.seconds / 2)
        tracer = Tracer(spark, args.workload, run_id)
        wl.install_tracing(tracer)
        try:
            traced = measure(wl, args.seconds / 2, tracer)
        finally:
            tracer.unwrap_all()
        tracer.collect()
        tracer.write(os.path.join(work_dir, f"spans-{run_id}.jsonl"))
    else:
        samples = measure(wl, args.seconds)
        traced = []

    jvm_pid = spark.sparkContext._gateway.proc.pid
    jvm_rss, driver_rss = meters.peak_rss_mb(jvm_pid), meters.peak_rss_mb(os.getpid())
    walls = [s["wall"] for s in samples]
    oks = flags + [s["ok"] for s in samples + traced]
    attempted, failed = len(oks), oks.count(False)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"input rows={rows} checksum={checksum} pinned_match={input_ok}")
    print(f"notes {json.dumps(wl.notes, default=str)}")
    print(
        f"setup: session {session_s:.3f} s, prepare {prep_s:.3f} s, warm-up {warm_s:.3f} s"
    )
    # means over the run's whole rounds, not medians: query_mix's eleven
    # query times fall in two groups (~0.6 s and ~1 s) and their median
    # jumped between them from seed to seed
    run_s = sum(walls) / len(walls)
    e2e = {
        "setup_s": (setup_s, 1),
        "run_s": (run_s, len(walls)),
        "work_per_s": (wl.items / run_s, len(walls)),
        "cpu_s": (sum(s["cpu"] for s in samples) / len(samples), len(samples)),
        "peak_rss_mb": (jvm_rss + driver_rss, 1),
    }
    for name, unit in END_TO_END:
        value, n = e2e[name]
        alias = f" ({WORK_NAME[wl.unit]})" if name == "work_per_s" else ""
        print(f"  {name}{alias} = {value:.6g} {unit}  n={n}")
    print(f"  peak RSS: JVM {jvm_rss:.1f} MB, driver {driver_rss:.1f} MB")
    print(f"  failed_frac = {failed / attempted:.6g}  n={attempted}")
    print("  op walls: " + " ".join(f"{w:.3f}" for w in walls))
    print("  op cpu: " + " ".join(f"{s['cpu']:.2f}" for s in samples))

    if args.trace:
        run_traced = sum(s["wall"] for s in traced) / len(traced)
        layers = layer_metrics(tracer, run_s, run_traced)
        for name, (value, unit) in layers.items():
            print(f"  {name} = {value:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {
            name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END
        }
    result = {
        "correct": failed == 0 and input_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
