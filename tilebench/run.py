#!/usr/bin/env python3
"""Tiling benchmark: one closed-loop client driving local[nproc/2], one job at
a time, timing calls into the engine's public functions from outside.

  python3 tilebench/run.py --workload point_tiles --seed 1 --seconds 10 --trace 0
  python3 tilebench/run.py --workload all --seed 1      # every workload, a table

Run it from the root of a checkout. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is the run
record (host context, probes, per-repetition walls). --trace 0 reports the
end-to-end metrics, --trace 1 runs separately with the Spark event log on
and reports the per-layer metrics. See tilebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed engine settings (not derived from the host, so every host runs the
# same plan): the Arrow batch; shuffle partitions live in workloads.py.
ARROW_BATCH = 65536
# Input preparations per run; setup_s counts the median one, so a heavier
# build (the pip index) shows in it without the noise of a single reading.
SETUP_REPS = 3
# Untimed repetitions before the timed loop: the first (cold) one starts the
# Python workers and takes 3-4x a warm one. The next one still runs up to
# ~10% slower than those after it, which the median over the timed loop
# absorbs; a second warm-up repetition would take time from that loop.
WARM_REPS = 1
WORK_DIR = os.path.join(ROOT, ".tilebench_work")
GOLDEN = os.path.join(HERE, "golden.json")

E2E = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "out_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "render.task_s": "s", "render.rows_out": "count", "render.fanout": "ratio",
    "exchange.write_bytes": "bytes", "exchange.write_records": "count",
    "exchange.write_s": "s", "exchange.fetch_wait_s": "s",
    "exchange.skew_max_over_median": "ratio",
    "reduce.task_s": "s", "reduce.tail_s": "s", "reduce.tiles_out": "count",
    "reduce.features_per_tile": "ratio",
    "python.rows_sent": "count", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.cpu_s": "s", "jvm.cpu_s": "s",
    "mvt.point_tile_us": "us", "mvt.gzip_share": "ratio",
    "mvt.polygon_tile_us": "us", "geom.slice_polygon_us": "us",
    "archives.drain_s": "s", "archives.us_per_tile": "us",
    "archives.unique_blobs": "count", "archives.dedup_ratio": "ratio",
    "archives.archive_bytes": "bytes",
    "geom.pip_ns_per_point": "ns", "spatial.join_rows": "count",
    "spatial.fallback_share": "ratio", "spatial.index_build_s": "s",
    "jpeg.decode_us_per_image": "us", "image.png_encode_us_per_tile": "us",
    "sources.scan_rows": "count", "sources.scan_bytes": "bytes",
    "jvm.gc_s": "s", "spill.bytes": "bytes", "driver.gap_s": "s",
    "stages.coverage": "ratio",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def host_context(seed: int) -> dict:
    from tilebench.workloads import SHUFFLE_PARTITIONS
    import numpy
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    cores = len(os.sched_getaffinity(0))
    return {
        "nproc": cores,
        # Spark task slots: half the CPUs. Each slot keeps a Python worker
        # and a JVM task thread busy, and the driver, GC and shuffle threads
        # need the rest; on the 4-vCPU reference VM local[2] ran point_tiles
        # only ~15% slower than local[4] but with a third of its run-to-run
        # spread (see README.md).
        "task_slots": max(1, cores // 2),
        "mem_total_mb": mem_kb // 1024,
        # a quarter of the host's memory, capped: the driver holds the
        # archive writer's directory and the generated inputs, nothing more
        "driver_memory_mb": min(mem_kb // 1024 // 4, 8192),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "arrow_batch": ARROW_BATCH,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "seed": seed,
        # tileset(packed=None) resolves its transport from this variable
        "SPARK_GRAFT_PACKED": os.environ.get("SPARK_GRAFT_PACKED"),
    }


def start_session(ctx: dict, work: str, event_dir: str | None = None):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{ctx['task_slots']}]")
         .appName("tilebench")
         .config("spark.sql.shuffle.partitions", str(ctx["shuffle_partitions"]))
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", f"{ctx['driver_memory_mb']}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the JVM (it exits when its stdin closes) and wait for every
    process this one started; kill what is left after a grace period."""
    from pyspark import SparkContext
    from tilebench import stages
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        try:
            gw.shutdown()
        finally:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = stages.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_DIR)  # only when no other run is using it
    except OSError:
        pass


def load_golden(workload: str, seed: int) -> dict | None:
    try:
        with open(GOLDEN) as f:
            return json.load(f).get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


def rep_error(key, want, first_key) -> str | None:
    """Output check of one repetition: the per-seed golden key when there is
    one, and always the first repetition's key (reruns are deterministic)."""
    key = list(key)
    if want is not None and key != list(want):
        return f"output {key} != golden {list(want)}"
    if first_key is not None and key != list(first_key):
        return f"output {key} != first repetition {list(first_key)}"
    return None


def timed_loop(wl, spark, seconds: float, spans=None) -> list[dict]:
    """Closed loop: the next repetition starts when the previous one ends,
    until `seconds` have passed (at least one repetition)."""
    from tilebench import stages
    reps = []
    begin = time.perf_counter()
    while not reps or time.perf_counter() - begin < seconds:
        tag = f"rep{len(reps)}"
        spark.sparkContext.setJobDescription(tag)
        cpu0 = stages.cpu_reading() if spans is not None else None
        t0, p0 = time.time(), time.perf_counter()
        rep = {"tag": tag, "t0": t0}
        try:
            rep["result"] = wl.run(spark)
        except Exception:  # a failed repetition is counted, not fatal
            rep["error"] = traceback.format_exc(limit=3)
        rep["wall"] = time.perf_counter() - p0
        rep["t1"] = time.time()
        if cpu0 is not None:
            cpu1 = stages.cpu_reading()
            rep["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        reps.append(rep)
    spark.sparkContext.setJobDescription(None)
    return reps


def check_reps(wl, spark, reps: list[dict], golden: dict | None) -> None:
    """Mark failed repetitions in place (rep["error"])."""
    want = golden["key"] if golden else None
    ok = [r for r in reps if "error" not in r]
    first = ok[0]["result"].key if ok else None
    for r in ok:
        err = rep_error(r["result"].key, want, first)
        if err:
            r["error"] = err
    ok = [r for r in reps if "error" not in r]
    if not ok:
        return
    err = wl.final_check(spark, [r["result"] for r in ok])
    final = wl.readback_key or ok[0]["result"].key
    if err is None and golden and "final" in golden \
            and list(final) != list(golden["final"]):
        err = f"read back {list(final)} != golden {golden['final']}"
    if err is None and golden is None and wl.reference is not None:
        ref = wl.reference(spark)
        if list(ref) != list(final):
            err = f"output {list(final)} != reference {list(ref)}"
    if err:
        for r in ok:
            r["error"] = err


def warm_up(wl, spark) -> list[float]:
    """WARM_REPS untimed repetitions; a fixed count, so the warm-up's share of
    setup_s does not jump with noise. Returns each repetition's wall."""
    walls = []
    for _ in range(WARM_REPS):
        t0 = time.perf_counter()
        wl.run(spark)
        walls.append(time.perf_counter() - t0)
    return walls


def high_percentile(walls: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it, else the max."""
    n = len(walls)
    s = sorted(walls)
    if n >= 20:
        q = int(100 * (1 - 10 / n))
        return f"p{q}", s[min(n - 1, int(q / 100 * n))]
    return "max", s[-1]


def probe_bandwidth() -> float:
    """tools/scaling_runner.bw_probe in a child process: its ~400 MB of
    arrays must not set the driver's peak RSS."""
    code = ("import sys; sys.path.insert(0, 'tools'); "
            "from scaling_runner import bw_probe; print(bw_probe())")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True)
    return float(out.stdout.split()[-1])


def reset_peak_rss() -> None:
    """Restart ru_maxrss from the current RSS (Linux clear_refs), so the peak
    is the driver's during the timed loop, not the input generation's."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def run_untraced(wl, ctx, work, seconds, golden):
    t0 = time.perf_counter()
    spark = start_session(ctx, work)
    session_s = time.perf_counter() - t0
    prep = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        info = wl.prepare(spark)
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_walls = warm_up(wl, spark)
    warm_s = time.perf_counter() - t0
    reset_peak_rss()
    reps = timed_loop(wl, spark, seconds)
    # before the untimed checks, which may hold reference outputs
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    check_reps(wl, spark, reps, golden)
    spark.stop()
    return reps, {"session_s": session_s,
                  "prepare_s": statistics.median(prep), "prepare_all_s": prep,
                  "warm_s": warm_s, "warm_walls_s": warm_walls,
                  "peak_rss_mb": peak_mb, **info}


def run_traced(wl, ctx, work, seconds, golden, untraced_reps):
    from tilebench import stages
    event_dir = os.path.join(work, "events")
    spark = start_session(ctx, work, event_dir)
    info = wl.prepare(spark)
    warm_up(wl, spark)
    spans = stages.Spans()
    wl.spans = spans
    reps = timed_loop(wl, spark, seconds, spans)
    check_reps(wl, spark, reps, golden)
    extra = wl.trace_extra(spark, spans)
    spark.stop()
    log = stages.parse_events(stages.read_event_lines(event_dir))
    per_rep = []
    for r in reps:
        if "error" in r:
            continue
        bd = stages.rep_breakdown(
            log, r["tag"], r["t0"], r["t1"],
            [(a, b) for _, a, b in spans.rows if r["t0"] <= a < r["t1"]])
        m = stages.layer_metrics(bd["stages"])
        res = r["result"]
        m["driver.gap_s"] = bd["driver_gap_s"]
        m["stages.coverage"] = bd["coverage"]
        m["python.cpu_s"] = r["cpu"]["python"]
        m["jvm.cpu_s"] = r["cpu"]["jvm"]
        m["trace.wall_s"] = r["wall"]
        m["stage_s"] = bd["stage_s"]
        if wl.name == "pip_join":
            m["spatial.join_rows"] = res.n_out
            m["spatial.fallback_share"] = res.key[1] / max(res.n_out, 1)
        elif "render.task_s" in m:
            m["reduce.tiles_out"] = res.n_out
            m["reduce.features_per_tile"] = m["reduce.rows_in"] / max(res.n_out, 1)
        per_rep.append(m)
    metrics = {}
    for name in sorted({k for m in per_rep for k in m}):
        metrics[name] = statistics.median(m.get(name, 0.0) for m in per_rep)
    metrics.update(extra)
    if "index_build_s" in info:
        metrics["spatial.index_build_s"] = info["index_build_s"]
    metrics.update(wl.micro())
    untraced = [r["wall"] for r in untraced_reps if "error" not in r]
    if untraced and "trace.wall_s" in metrics:
        metrics["trace.overhead_s"] = (metrics["trace.wall_s"]
                                       - statistics.median(untraced))
    return reps, metrics


def run_one(args) -> int:
    from tilebench import workloads
    ctx = host_context(args.seed)
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    golden = load_golden(args.workload, args.seed)
    record = {"workload": args.workload, "trace": args.trace, "context": ctx,
              "golden": golden is not None}
    try:
        record["bw_probe_start_gbs"] = probe_bandwidth()
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        # in a traced run, the untraced loop is the tracing-overhead baseline
        # and the two loops share --seconds
        loop_s = args.seconds / 2 if args.trace else args.seconds
        reps, setup_info = run_untraced(wl, ctx, work, loop_s, golden)
        record["setup"] = setup_info
        metrics_out = {}
        if args.trace:
            traced, layer = run_traced(wl, ctx, work, loop_s, golden, reps)
            reps = reps + traced
            for name, unit in PER_LAYER.items():
                metrics_out[name] = {"value": float(layer.get(name, 0.0)),
                                     "unit": unit}
            record["not_applicable"] = sorted(set(PER_LAYER) - set(layer))
            record["stage_s"] = layer.get("stage_s")
        record["bw_probe_end_gbs"] = probe_bandwidth()
    finally:
        shutdown_jvm()
        remove_work(work)
    ok = [r for r in reps if "error" not in r]
    walls = [r["wall"] for r in (ok or reps)]
    label, high = high_percentile(walls)
    record["walls_s"] = walls
    record["wall_high"] = {label: high, "n": len(walls)}
    record["errors"] = sorted({r["error"] for r in reps if "error" in r})
    record["failed_frac"] = (len(reps) - len(ok)) / len(reps)
    if ok:
        record["n_out"] = ok[0]["result"].n_out
        record["out_bytes"] = ok[0]["result"].extra.get("out_bytes")
    if not args.trace:
        su = record["setup"]
        rates = [r["result"].n_out / r["wall"] for r in (ok or [])] or [0.0]
        values = {
            "setup_s": su["session_s"] + su["prepare_s"] + su["warm_s"],
            "wall_s": statistics.median(walls),
            "out_per_s": statistics.median(rates),
            "driver_peak_rss_mb": su["peak_rss_mb"],
        }
        metrics_out = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": not record["errors"], "attempted": len(reps),
                      "failed": len(reps) - len(ok), "metrics": metrics_out}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after another; prints each
    end-to-end metric by name and unit per workload."""
    from tilebench import workloads
    rows, bad = [], False
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: exit {out.returncode}", file=sys.stderr)
            bad = True
            continue
        res = json.loads(lines[-1])
        failed_frac = res["failed"] / res["attempted"]
        bad |= not res["correct"]
        for metric, v in res["metrics"].items():
            rows.append((name, metric, v["value"], v["unit"]))
        rows.append((name, "failed_frac", failed_frac, "ratio"))
    for r in rows:
        print(f"{r[0]:16} {r[1]:32} {r[2]:16.6g} {r[3]}")
    return 1 if bad else 0


def record_golden(args) -> int:
    """Record per-seed golden keys: one repetition per seed, accepted only
    when it passes the workload's own final check and its reference."""
    from tilebench import workloads
    ctx = host_context(args.seed)
    work = os.path.join(WORK_DIR, f"golden-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        with open(GOLDEN) as f:
            golden = json.load(f)
    except FileNotFoundError:
        golden = {}
    spark = start_session(ctx, work)
    try:
        for seed in range(args.seed, args.seed + args.golden_seeds):
            wl = workloads.WORKLOADS[args.workload](seed, work)
            wl.prepare(spark)
            reps = timed_loop(wl, spark, 0)
            check_reps(wl, spark, reps, None)
            if "error" in reps[0]:
                raise RuntimeError(f"seed {seed}: {reps[0]['error']}")
            entry = {"key": list(reps[0]["result"].key)}
            if wl.readback_key:
                entry["final"] = list(wl.readback_key)
            golden.setdefault(args.workload, {})[str(seed)] = entry
            print(seed, entry, flush=True)
            with open(GOLDEN + ".tmp", "w") as f:
                json.dump(golden, f, indent=1, sort_keys=True)
                f.write("\n")
            os.replace(GOLDEN + ".tmp", GOLDEN)
        spark.stop()
    finally:
        shutdown_jvm()
        remove_work(work)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden-seeds", type=int, default=0,
                    help="record golden keys for this many seeds from --seed")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "planetiler_spark")):
        print(f"tilebench: no planetiler_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    from tilebench import workloads
    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    if args.golden_seeds:
        return record_golden(args)
    return run_one(args)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import tilebench and the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.exit(main())
