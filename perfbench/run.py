"""Layered KG-construction benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It starts Spark in ``local[<cores>]`` mode
(one driver process), warms it up, builds the workload's inputs from the
seed, then runs the workload's operation in a closed loop, one at a time,
for S seconds, checking every output outside the timed window. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, taken from timing shims
and the Spark event log (see tracing.py). The line before it holds the
run's context: seed, workload properties, per-operation figures, the host
probe and, when traced, every per-tag Spark figure.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit. Workloads and metrics are listed
in BENCHMARK.json and explained in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_merge", "resume_hub", "operator_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--drop-triple", action="store_true",
                    help="drop one output triple before each check (must fail)")
    return ap.parse_args(argv)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(sc) -> float:
    """Peak RSS of this Python driver plus the JVM it launched."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(sc._gateway.proc.pid)) / 1024


def spark_job_total(sc) -> int:
    """Jobs submitted so far. Job ids are taken synchronously at submit, so
    the difference across an operation counts its jobs exactly, including
    AQE and broadcast jobs from other threads."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def host_probe(spark, work: str, tiny: bool) -> float:
    """bench.py's embarrassingly parallel explode+split count over a fixed
    heavy-noise corpus (seed 0): a yardstick of the host's state in this
    window, the same for every workload and seed. Median of 3."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.corpus import CorpusConfig, generate_documents_local
    from workloads import read_docs, write_docs

    path = os.path.join(work, "probe.parquet")
    write_docs(generate_documents_local(CorpusConfig(
        n_docs=200 if tiny else 500, seed=0, noise_spans=(6, 14), noise_words=(20, 60))), path)
    words = (read_docs(spark, path).select(F.explode("spans").alias("s"))
             .where("s.kind = 'text'").select(F.explode(F.split("s.text", " ")).alias("w")))
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        words.agg(F.count(F.lit(1))).collect()
        runs.append(time.perf_counter() - t0)
    return median(runs)


def lineage_counters(result, window: tuple[float, float]) -> dict[str, dict]:
    """Per-stage write_s / rows from the program's own _lineage.json, for
    the stages committed inside this operation's window."""
    from tracing import STAGES

    out: dict[str, dict] = {s: {"write_s": 0.0, "rows": 0} for s in STAGES}
    for d in result.out_dirs:
        path = os.path.join(d, "_lineage.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            stages = json.load(f)["stages"]
        for s, rec in stages.items():
            if s in out and window[0] <= rec.get("ts", 0) <= window[1]:
                out[s]["write_s"] += rec["counters"].get("write_sec", 0.0)
                out[s]["rows"] += rec["counters"].get("rows", 0)
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit: the JVM quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    from entity_extractor_spark.session import get_spark

    import tracing
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    events = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch inside the work dir too
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=conf)
    ctx: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "cpus": cpus, "seconds": args.seconds}
    try:
        sc = spark.sparkContext
        session_s = time.perf_counter() - T_START
        tracer = tracing.Tracer(sc)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.tiny, tracer)

        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setups = []
        for _ in range(wl.SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(wl.WARM_OPS):
            wl.prepare()
            wl.cleanup(wl.op())
        warmup_s += time.perf_counter() - t0
        ctx["setup"] = {"session_s": session_s, "warmup_s": warmup_s, "inputs_s": setups,
                        "reference_s": reference_s}
        setup_s = session_s + warmup_s + median(setups)

        def one_op(traced: bool) -> dict:
            wl.prepare()
            if traced:
                tracing.install_shims(tracer)
                tracer.enabled = True
            try:
                j0 = spark_job_total(sc)
                t0 = time.perf_counter()
                with tracer.op():
                    res = wl.op()
                wall = time.perf_counter() - t0
                jobs = spark_job_total(sc) - j0
            finally:
                tracer.restore()
                tracer.enabled = False
            rec = {"wall_s": wall, "steps": res.steps, "rows": res.rows, "jobs": jobs,
                   "traced": traced}
            if traced:
                rec["lineage"] = lineage_counters(res, tracer.windows[-1])
            t0 = time.perf_counter()
            ok, why = wl.check(res, drop_one=args.drop_triple)
            wl.cleanup(res)
            rec["check_s"] = time.perf_counter() - t0
            rec["ok"] = ok
            if not ok:
                rec["why"] = why
            return rec

        # Closed loop, one operation at a time. A traced run alternates
        # untraced and traced operations for twice as long, so that trace
        # overhead = traced - untraced compares operations of one window.
        ops: list[dict] = []
        span = args.seconds * (2 if args.trace else 1)
        start = time.perf_counter()
        while len(ops) < (2 if args.trace else 1) or time.perf_counter() - start < span:
            traced = bool(args.trace) and len(ops) % 2 == 1
            try:
                ops.append(one_op(traced))
            except Exception as exc:  # an operation that raises counts as failed
                traceback.print_exc()
                ops.append({"ok": False, "traced": traced,
                            "why": f"{type(exc).__name__}: {exc}"})
                if len(ops) >= 3 and not any(o["ok"] for o in ops):
                    break
        attempted, failed = len(ops), sum(not o["ok"] for o in ops)

        ctx["host.probe_s"] = host_probe(spark, work, args.tiny)
        ctx["properties"] = wl.properties()
        ctx["failed_ratio"] = failed / attempted
        ctx["ops"] = ops
        rss = peak_rss_mb(sc)
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = layer_report(tracer, ops, ctx, events)
    else:
        metrics = end_to_end(ops, setup_s, rss, wl.JOBS_PER_STEP)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return ctx, result


def end_to_end(ops: list[dict], setup_s: float, rss: float, jobs_per_step: bool) -> dict:
    timed = [o for o in ops if "wall_s" in o]
    steps = [s for o in timed for s in o["steps"]]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([o["wall_s"] for o in timed]), "s"),
        "triples_per_s": (median([o["rows"] / o["wall_s"] for o in timed]), "1/s"),
        "batch_p50_s": (median(steps), "s"),
        "batch_p90_s": (p90(steps), "s"),
        "spark_jobs": (median([o["jobs"] / (len(o["steps"]) if jobs_per_step else 1)
                               for o in timed]), "count"),
        "peak_rss_mb": (rss, "MB"),
    }


def layer_report(tracer, ops: list[dict], ctx: dict, events_dir: str) -> dict:
    import tracing

    timed = [o for o in ops if "wall_s" in o and o["traced"]]
    n = max(1, len(timed))
    layer = tracing.layer_metrics(tracer.spans, n)
    t0 = tracer.windows[0][0] if tracer.windows else 0.0
    ctx["spans"] = [[sp.name, round(sp.start - t0, 4), round(sp.end - t0, 4), sp.parent, sp.thread]
                    for sp in tracer.spans]
    for stage in tracing.STAGES:
        layer[f"lineage.commit.{stage}.write_s"] = sum(
            o["lineage"][stage]["write_s"] for o in timed) / n
    ctx["lineage_rows"] = {s: sum(o["lineage"][s]["rows"] for o in timed) / n
                           for s in tracing.STAGES}
    props = ctx["properties"]
    layer["link.largest_cluster_share"] = props.get("largest_cluster_share", 0.0)
    layer["stream.state_rows"] = props.get("accumulated_state_rows", 0)
    traced_wall = median([o["wall_s"] for o in timed])
    layer["trace.wall_s"] = traced_wall
    layer["trace.overhead_s"] = traced_wall - median(
        [o["wall_s"] for o in ops if "wall_s" in o and not o["traced"]])

    (log,) = glob.glob(os.path.join(events_dir, "*"))
    stats = tracing.spark_metrics(tracing.read_events(log), tracer.windows, n)
    ctx["spark_by_tag"] = {t: s for t, s in stats.items() if s["jobs"]}
    tagged = sum(s["task_run_s"] for t, s in stats.items() if t != "total")
    ctx["task_run_s_attributed"] = {"tags": tagged, "event_log_total": stats["total"]["task_run_s"]}
    ctx["jobs_per_op_event_log"] = stats["total"]["jobs"]
    layer.update(tracing.per_layer_spark(stats))
    return {k: (v, tracing.unit_of(k)) for k, v in layer.items()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python, the JVM and Spark's shuffle files all write under `work`.
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        # the spark-submit launcher JVM, started before the driver's
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    })
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    try:
        ctx, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
