"""tileigi-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload points_z0_pip --seed 1 \
        --seconds 12 --trace 0

Run from the repository root.  Everything it writes goes under
``.bench_work/`` there.  With ``--trace 0`` the last stdout line carries
the end-to-end metrics; with ``--trace 1`` it also runs the job once
with every layer wrapped and reports the per-layer metrics instead.
See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
# set-up ends with the workload's job on inputs this much smaller: it
# starts the Python workers and has the JVM load and compile the job's
# code paths, so the timed jobs that follow run warm (the first job of a
# session runs up to 1.7x slower, by an amount that varies run to run)
WARMUP_SCALE = 0.1
# a job now and then runs 1.5x slow when a neighbour loads the host; the
# median of two or more keeps one such job from setting a run's figure
MIN_TIMED_JOBS = 2


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def make_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         # a pre-touched fixed heap keeps the JVM's share of peak RSS
         # from depending on when the collector last grew the heap; no
         # perf-data file, which the JVM would put in /tmp
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch "
                 f"-XX:-UsePerfData")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * CORES))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def poison_probe(spark) -> int:
    """ROADMAP item 4: one polygon with a NaN vertex.  Returns 1 when it
    still fails the whole build_tiles job, 0 once bad rows are dropped."""
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.engine import build_tiles
    from tileigi_spark.geom.wkb import geom_to_wkb

    ring = [(0.0, 0.0), (1e5, 0.0), (float("nan"), 1e5), (0.0, 1e5),
            (0.0, 0.0)]
    df = spark.createDataFrame([(1, bytearray(geom_to_wkb(
        ("Polygon", [ring]))))], "feature_id long, way binary")
    layers = Layers(layers=[Layer(id="bad", source="bad")],
                    global_maxzoom=14)
    try:
        build_tiles(spark, {"bad": df}, layers, 0, 0).collect()
    except Exception as e:  # the defect being probed: any job failure
        log(f"poison probe: job failed ({type(e).__name__})")
        return 1
    return 0


class Digests:
    """Tile digests of earlier runs, one file per (workload, seed)."""

    def __init__(self, base):
        self.base = os.path.join(base, "digests")
        os.makedirs(self.base, exist_ok=True)

    def compare(self, key, digest):
        from checks import check_digest

        path = os.path.join(self.base, key)
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(digest)
            return []
        with open(path) as f:
            return check_digest(f.read().strip(), digest)


def run_job(wl, spark, inp, out, tracer, digests):
    """One job plus its output checks.  Returns (record, failures); a job
    that raises is a failure with no record, not a crash of the run."""
    from checks import tile_digest

    try:
        with tracer.span("job") as root:
            wl.job(spark, inp, out, tracer)
        summary = wl.store_summary(out)
        fails, info = wl.check(out, summary)
        digest = tile_digest(summary["keys"])
        fails = (summary["fails"] + fails
                 + digests.compare(wl.key, digest))
    except Exception:
        log(traceback.format_exc())
        return None, ["job raised"]
    if fails:
        log(f"job FAILED its checks: {fails}")
    phases = {s.name: round(s.dur, 3) for s in tracer.spans
              if s.parent == root.id}
    return {"wall_s": root.dur, "render_s": tracer.total("cli"),
            "summary": summary, "info": info, "phases": phases}, fails


def traced_metrics(wl, spark, inp, work, digests, untraced_wall):
    """Run the job once more with every layer wrapped; stop the session
    and read its event log.  Returns (per-layer metrics or None,
    failures, poison-probe result)."""
    import spans
    from metrics import layer_metrics

    tracer = spans.Tracer("traced", spark.sparkContext)
    mat = spans.Materializer(spark, os.path.join(work, "mat"))
    with spans.install(tracer, mat):
        rec, fails = run_job(wl, spark, inp, os.path.join(work, "traced"),
                             tracer, digests)
    poison = poison_probe(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if rec is None:
        return None, fails, poison
    s = rec["summary"]
    tm = spans.task_metrics(spans.find_event_log(
        os.path.join(work, "eventlog"), app_id))
    layer = layer_metrics(tracer.spans, tm, CORES, dict(
        rec["info"], store_bytes=s["bytes"], store_files=s["files"],
        images=s["images"], tiles=s["tiles"]))
    layer["trace.overhead_s"] = rec["wall_s"] - untraced_wall
    layer["engine.poison_row_job_failed"] = poison
    return layer, fails, poison


def stop_jvm():
    """Shut the py4j gateway and wait for the JVM and every other child
    process (Python workers) to exit."""
    from pyspark import SparkContext

    import host

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(host.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def percentile(values, q):
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tileigi_spark")):
        log(f"no tileigi_spark package under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])

    import host
    import spans
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of "
            f"{sorted(WORKLOADS)}")
        return 2
    trace = bool(args.trace)
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    digests = Digests(bench_dir)
    wl = WORKLOADS[args.workload](args.seed)
    cpu = host.CpuWindow()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = make_spark(work, trace)
        session_s = time.perf_counter() - t0
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            inp = os.path.join(work, f"input{rep}")
            os.makedirs(inp)
            wl.stage(inp)
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        mini = WORKLOADS[args.workload](args.seed, WARMUP_SCALE)
        os.makedirs(os.path.join(work, "warm-input"))
        mini.stage(os.path.join(work, "warm-input"))
        warm, fails = run_job(mini, spark, os.path.join(work, "warm-input"),
                              os.path.join(work, "warm-out"),
                              spans.Tracer("warm-up"), digests)
        warm_s = time.perf_counter() - t0
        log(f"session start {session_s:.2f}s, stagings "
            f"{['%.2f' % s for s in setup]}, warm-up job {warm_s:.2f}s")
        records, failures = [], [fails] if fails else []
        attempted = 1
        if warm is None:
            log("the warm-up job raised")
            return 1
        with host.RssSampler() as rss:
            while len(records) < MIN_TIMED_JOBS or \
                    sum(r["wall_s"] for r in records) < args.seconds:
                out = os.path.join(work, f"out{attempted}")
                attempted += 1
                rec, fails = run_job(wl, spark, inp, out,
                                     spans.Tracer("untraced"), digests)
                if fails:
                    failures.append(fails)
                if rec is None:
                    break
                records.append(rec)
                log(f"job: wall {rec['wall_s']:.2f}s render "
                    f"{rec['render_s']:.2f}s tiles {rec['summary']['tiles']}")
                shutil.rmtree(out, ignore_errors=True)
        if not records:
            log("no job completed")
            return 1

        layer = poison = None
        if trace:
            attempted += 1
            layer, fails, poison = traced_metrics(
                wl, spark, inp, work, digests,
                statistics.median(r["wall_s"] for r in records))
            spark = None
            if fails:
                failures.append(fails)

        busy, steal = cpu.shares()
        walls = [r["wall_s"] for r in records]
        last = records[-1]["summary"]
        e2e = {
            "wall_s": statistics.median(walls),
            "tiles_per_s": statistics.median(
                r["summary"]["tiles"] / r["render_s"] for r in records),
            "setup_s": session_s + statistics.median(setup) + warm_s,
            "peak_rss_mb": rss.peak / 2 ** 20,
            "store_bytes_per_tile": last["bytes"] / max(1, last["tiles"]),
        }
        print("perfbench summary: " + json.dumps({
            "workload": args.workload, "seed": args.seed,
            "jobs": len(walls), "wall_s_median": e2e["wall_s"],
            "warmup_job_s": warm_s,
            "wall_s_p90": percentile(walls, 0.9),
            "failed_frac": len(failures) / attempted,
            "session_start_s": session_s, "staging_s_samples": setup,
            "host_busy_pct": busy,
            "host_steal_pct": steal, "poison_row_job_failed": poison,
            "phases_s": [r["phases"] for r in records],
            "zoom_s": [r["summary"]["zoom_s"] for r in records],
            "tiles": last["tiles"], **records[-1]["info"]}), flush=True)
        if layer is not None:
            layer["host.busy_pct"] = busy
            layer["host.steal_pct"] = steal
            metrics = {k: {"value": layer[k], "unit": u}
                       for k, u in PER_LAYER.items()}
        elif trace:
            metrics = {}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}),
              flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
