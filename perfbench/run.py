"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload spotify_etl --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout. One client runs closed-loop in this
process against a ``local[nproc]`` session; every file it writes lives
under ``.perfbench_work/<pid>/`` in the checkout and is removed at exit
(the span dump of a traced run is kept in ``.perfbench_out/``).

A run sets up once, from process start (imports, JVM launch, session,
inputs written and loaded), then makes one cold pass and steady passes
for ``--seconds``. With
``--trace 1`` it makes, after the cold pass, four passes traced,
untraced, untraced, traced (layer wrappers installed; Spark's event log
is on for the whole run), and reports per-layer metrics instead of
end-to-end ones. See METRICS.md for what each metric means.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Per process, so two runs in one checkout cannot clobber each other.
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("spotify_etl", "llm_curation")
DRIVER_MEMORY = "2g"
PER_LAYER_COUNTS = ("sources.raw_bytes", "sinks.bytes_written",
                    "sinks.files_written", "caching.released_frames")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(trace: bool) -> dict[str, str]:
    """Launch settings, through the environment only: cores from the
    affinity mask, a driver heap that fits a small box, no progress bar,
    and every scratch path (Python, JVM, Spark local dirs, cwd-relative
    warehouse) inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIRS": local,
    }
    os.environ.update(settings)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{events}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    os.chdir(WORK)
    return settings


def remove_work():
    os.chdir(ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:
        pass  # another run is still using it


def shutdown(spark):
    """Stop the session, then the JVM, then wait for every process this
    run started (the JVM's Python workers included)."""
    import sampler
    from pyspark import SparkContext

    children = sampler.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")
                    and not _is_zombie(p)}
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def install_layer_spans(tracer, layer: dict[str, float]):
    """Wrap the layer functions the workloads reach. Byte and file
    counts are taken from the paths each sink returns."""
    import etl_airflow_spotify_spark.caching as caching
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.spotify import pipeline

    def tree_size(paths):
        n_bytes = n_files = 0
        for path in paths:
            for d, _, files in os.walk(path):
                for f in files:
                    if not f.startswith((".", "_")):
                        n_bytes += os.path.getsize(os.path.join(d, f))
                        n_files += 1
        return n_bytes, n_files

    def raw_written(path):
        layer["sources.raw_bytes"] += tree_size([path])[0]

    def tables_written(paths):
        b, f = tree_size(paths.values())
        layer["sinks.bytes_written"] += b
        layer["sinks.files_written"] += f

    def released(n):
        layer["caching.released_frames"] += n

    tracer.install(pipeline, "extract_full_dataset", "sources.extract")
    tracer.install(pipeline, "snapshot_from_dict",
                   "sources.snapshot_from_dict")
    tracer.install(pipeline, "write_snapshot", "sources.write_snapshot",
                   raw_written)
    tracer.install(pipeline, "snapshot_tables", "spotify.snapshot_tables")
    tracer.install(pipeline, "save_tables",
                   lambda *a, fmt="parquet", **k: f"sinks.save_tables.{fmt}",
                   tables_written)
    tracer.install(pipeline, "publish_latest", "sinks.publish_latest")
    tracer.install(caching, "release_all", "caching.release", released)
    tracer.install_everywhere(load_table, "etl_airflow_spotify_spark",
                              "catalog.load_table")


def spark_counters(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under ``group``, from the status
    tracker. Stages skipped because their output was reused ran no tasks
    and are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks, "spark.failed_tasks": failed}


def per_layer_metrics(tracer, layer, counters, events, cores):
    """Per traced pass: time per span name, self time per layer, Spark
    counters, and event-log timings over the timed jobs (the direct
    children of each pass span; output checks run outside them)."""
    from spans import self_times, union_length

    n = len(counters)
    out = {k: v / n for k, v in layer.items()}
    for k in counters[0]:
        out[k] = sum(c[k] for c in counters) / n

    def add(key, value):
        out[key] = out.get(key, 0.0) + value / n

    timed = run_s = 0.0
    for s, self_s in zip(tracer.spans, self_times(tracer.spans)):
        if s.name == "pass":
            add("self.bench_s", self_s)
            g = events.get(s.attrs["group"])
            if g:
                run_s += g.run_s
                add("spark.gc_s", g.gc_s)
                add("spark.shuffle_write_bytes", g.shuffle_write_bytes)
                add("spark.spill_bytes", g.spill_bytes)
            continue
        key = s.name.replace("sinks.save_tables.", "sinks.save_tables_s.")
        add(key if key != s.name else key + "_s", s.seconds)
        add("self." + s.name.split(".")[0] + "_s", self_s)
        parent = tracer.spans[s.parent]
        if parent.name == "pass":
            g = events.get(parent.attrs["group"])
            jobs = g.job_intervals if g else ()
            add("driver.gap_s",
                s.seconds - union_length(jobs, s.start, s.end))
            timed += s.seconds
    out["spark.busy_frac"] = run_s / (timed * cores) if timed else 0.0
    return out


def measure(args, settings):
    import sampler
    import spans
    import workloads
    from etl_airflow_spotify_spark.session import get_session

    host = sampler.Sampler().start()
    wl = workloads.make(args.workload)
    spark = None
    try:
        a = time.perf_counter()
        spark = get_session("perfbench")
        session_s = time.perf_counter() - a
        ctx = workloads.Context(spark, os.path.join(WORK, "data"),
                                os.path.join(WORK, "out"), args.seed)
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START

        outcomes = []

        def one_pass(i):
            res = wl.run_pass(ctx, i)
            outcomes.extend(res)
            for o in res:
                if not o.ok:
                    print(f"FAILED pass {i} {o.name}: {o.detail}",
                          file=sys.stderr)
            return sum(o.seconds for o in res)

        # spotify_etl writes parquet on odd pass indices and CSV on even
        # ones: the cold pass takes the parquet path, the steady passes
        # the CSV path, so both formats reach a bounded metric.
        cold = one_pass(1)
        walls = []
        metrics = {}
        if not args.trace:
            # Steady passes while less than --seconds has been spent.
            t0 = time.perf_counter()
            while not walls or time.perf_counter() - t0 < args.seconds:
                walls.append(one_pass(2 * (1 + len(walls))))
        else:
            tracer = spans.Tracer(run_id=f"{args.workload}-{args.seed}")
            layer = dict.fromkeys(PER_LAYER_COUNTS, 0.0)
            counters = []
            traced_walls, untraced_walls = [], []

            def traced_pass(i):
                install_layer_spans(tracer, layer)
                ctx.tracer, ctx.group = tracer, f"perfbench-pass-{i}"
                with tracer.span("pass", group=ctx.group):
                    wall = one_pass(i)
                ctx.tracer = None
                tracer.uninstall()
                counters.append(spark_counters(spark, ctx.group))
                return wall

            # T U U T: each side sees both parities of the pass index
            # (one CSV and one parquet spotify_etl run) and both sides
            # are equally far into the warm-up. The event log is on for
            # all four, so its cost is not in the overhead figure.
            for i, on in enumerate((True, False, False, True), start=2):
                if on:
                    traced_walls.append(traced_pass(i))
                else:
                    untraced_walls.append(one_pass(i))
            if hasattr(wl, "normalize_exec_s"):
                metrics["spotify.normalize_exec_s"] = \
                    wl.normalize_exec_s(ctx, 0)
        host.stop()
        if args.trace:
            shutdown(spark)
            spark = None
            events = {}
            for f in sorted(os.listdir(os.path.join(WORK, "events"))):
                with open(os.path.join(WORK, "events", f)) as fh:
                    events.update(spans.parse_event_log(fh))
            cores = int(settings["SPARK_GRAFT_CPUS"])
            metrics.update(per_layer_metrics(tracer, layer, counters,
                                             events, cores))
            traced_s = statistics.median(traced_walls)
            untraced_s = statistics.median(untraced_walls)
            metrics.update({
                "session.get_session_s": session_s,
                "trace.pass_s": traced_s,
                "trace.untraced_pass_s": untraced_s,
                "trace.overhead_frac": traced_s / untraced_s - 1,
            })
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(
                OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        host.stop()
        shutdown(spark)

    attempted = len(outcomes)
    failed = sum(not o.ok for o in outcomes)
    load = host.summary()
    print(f"host load1 {load['load1_mean']:.2f} idle "
          f"{load['idle_pct_mean']:.1f}% steal "
          f"{load['steal_pct_mean']:.1f}% local dir "
          f"{settings['SPARK_GRAFT_LOCAL_DIRS']} cores "
          f"{settings['SPARK_GRAFT_CPUS']}; setup {setup_s:.2f} "
          f"cold {cold:.2f} steady passes "
          f"{[round(w, 2) for w in walls]}", file=sys.stderr)
    by_job: dict[str, list[float]] = {}
    for o in outcomes:
        by_job.setdefault(o.name, []).append(o.seconds)
    print("job seconds (cold first): " + ", ".join(
        f"{k} {[round(x, 2) for x in v]}" for k, v in by_job.items()),
        file=sys.stderr)
    if args.trace:
        metrics.update({"failed_frac": failed / attempted,
                        "host.load1": load["load1_mean"],
                        "host.idle_pct": load["idle_pct_mean"],
                        "host.steal_pct": load["steal_pct_mean"]})
        kind = "per_layer"
    else:
        wall = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "cold_wall_s": cold,
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            "peak_rss_mb": load["peak_rss_mb"],
            "ok_frac": 1 - failed / attempted,
        }
        kind = "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer this workload never reaches reads 0
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # A kill becomes an exception, so the session, the JVM and the work
    # dir are still cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK)
    try:
        settings = isolate(bool(args.trace))
        sys.path.insert(0, ROOT)
        result = measure(args, settings)
    finally:
        remove_work()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
