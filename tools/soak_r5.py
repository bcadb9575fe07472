"""10x-scale soak of the flagship (VERDICT r4 #6): one end-to-end run at
~20M images z0-13 through tileset() into a REAL PMTiles archive, with
checkpoint/resume exercised mid-run (SIGKILL + resume via
operators/checkpoint.py) and peak driver/JVM memory logged from /proc.

Phases (each a fresh subprocess so RSS and kills are clean):
  prep       generate the 20M-row images parquet (untimed input prep)
  flagship   tileset(0..maxzoom) -> write_pmtiles(...)
  ckpt A     run_checkpointed uninterrupted (the equality reference)
  ckpt B     same job, SIGKILLed after K buckets land, then RESUMED
  compare    per-tile (bucket, z, x, y, content_hash) equality A vs B

Output: BENCH/runs_r5/soak_r5.log (markdown) + soak_r5.json (raw).
Usage: python tools/soak_r5.py [--n 20000000] [--maxzoom 13] [--buckets 8]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# ---------------------------------------------------------------- rss poll

def _read_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith(key):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    ppid = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid[int(d)] = int(parts[1])  # field 4 (ppid), after comm
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in ppid.items() if pp in frontier]
        out += nxt
        frontier = nxt
    return out


class RssPoller(threading.Thread):
    """Poll the worker's process tree every `interval` s; track the peak
    summed VmRSS and the peak single-process VmHWM (the JVM in practice)."""

    def __init__(self, pid: int, interval: float = 2.0):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_tree_mb = 0.0
        self.peak_proc_mb = 0.0
        self._stop = threading.Event()

    def run(self):
        while not self._stop.is_set():
            pids = _descendants(self.pid)
            tree = sum(_read_kb(p, "VmRSS") for p in pids) / 1024.0
            proc = max((_read_kb(p, "VmHWM") for p in pids), default=0) / 1024.0
            self.peak_tree_mb = max(self.peak_tree_mb, tree)
            self.peak_proc_mb = max(self.peak_proc_mb, proc)
            self._stop.wait(self.interval)

    def stop(self):
        self._stop.set()


# ---------------------------------------------------------------- workers

def _session(cpus: int = 32):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("soak_r5")
             .config("spark.sql.shuffle.partitions", "128")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def job_prep(args):
    from planetiler_spark.sources import images as src
    meta = os.path.join(args.work, f"images_meta_{args.n}")
    if not os.path.exists(os.path.join(meta, "_SUCCESS")):
        spark = _session()
        src.images_df(spark, args.n, partitions=256, with_bytes=False) \
            .write.mode("overwrite").parquet(meta)
        spark.stop()
    print(json.dumps({"input": meta}))


def job_flagship(args):
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import archives
    spark = _session()
    meta = os.path.join(args.work, f"images_meta_{args.n}")
    images = spark.read.parquet(meta)
    images.count()  # warm FS cache before timing
    out = os.path.join(args.work, "flagship.pmtiles")
    t0 = time.time()
    tiles = tp.tileset(spark, images, 0, args.maxzoom)
    meta_out = archives.write_pmtiles(
        tiles, out, metadata={"name": "soak_r5", "format": "pbf"})
    wall = time.time() - t0
    print(json.dumps({
        "wall_s": round(wall, 1),
        "n_tiles": meta_out["tiles"],
        "n_entries": meta_out["entries"],
        "archive_mb": round(os.path.getsize(out) / 1e6, 1),
        "tiles_per_s": round(meta_out["tiles"] / wall, 1),
    }))
    spark.stop()


def job_checkpoint(args):
    from planetiler_spark.operators import checkpoint as cp
    spark = _session()
    meta = os.path.join(args.work, f"images_meta_{args.n}")
    images = spark.read.parquet(meta)
    t0 = time.time()
    ran = cp.run_checkpointed(spark, images, args.out, n_buckets=args.buckets,
                              max_zoom=args.maxzoom, verbose=True)
    print(json.dumps({
        "wall_s": round(time.time() - t0, 1),
        "ran_buckets": sorted(st["bucket"] for st in ran),
        "n_tiles": sum(st["n_tiles"] for st in ran),
        "n_features": sum(st["n_features"] for st in ran),
    }))
    spark.stop()


def job_compare(args):
    spark = _session()
    cols = ["bucket", "zoom", "x", "y", "content_hash"]
    a = spark.read.option("basePath", os.path.join(args.a, "tiles")) \
        .parquet(os.path.join(args.a, "tiles")).select(cols)
    b = spark.read.option("basePath", os.path.join(args.b, "tiles")) \
        .parquet(os.path.join(args.b, "tiles")).select(cols)
    only_a = a.exceptAll(b).count()
    only_b = b.exceptAll(a).count()
    na, nb = a.count(), b.count()
    print(json.dumps({"n_a": na, "n_b": nb, "only_a": only_a,
                      "only_b": only_b,
                      "equal": only_a == 0 and only_b == 0 and na == nb}))
    spark.stop()


# ------------------------------------------------------------ orchestrator

def _worker_cmd(args, job: str, extra: list[str]) -> list[str]:
    return [sys.executable, os.path.abspath(__file__), "--job", job,
            "--n", str(args.n), "--maxzoom", str(args.maxzoom),
            "--buckets", str(args.buckets), "--work", args.work] + extra


def _run(args, job: str, extra: list[str] | None = None,
         kill_after_statuses: int | None = None,
         status_dir: str | None = None) -> dict:
    """Run a worker; stream output; poll RSS; optionally SIGKILL the whole
    process group once `kill_after_statuses` status files exist."""
    cmd = _worker_cmd(args, job, extra or [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    poller = RssPoller(proc.pid)
    poller.start()
    killed = False

    def _watch_kill():
        nonlocal killed
        while proc.poll() is None:
            try:
                n = len([f for f in os.listdir(status_dir) if f.endswith(".json")])
            except OSError:
                n = 0
            if n >= kill_after_statuses:
                time.sleep(2)  # land mid-bucket, after the checkpoint commit
                os.killpg(proc.pid, signal.SIGKILL)
                killed = True
                return
            time.sleep(1)

    if kill_after_statuses is not None:
        threading.Thread(target=_watch_kill, daemon=True).start()
    lines = []
    for ln in proc.stdout:
        lines.append(ln.rstrip())
        print(f"  [{job}] {ln.rstrip()}", flush=True)
    proc.wait()
    poller.stop()
    out: dict = {"job": job, "returncode": proc.returncode, "killed": killed,
                 "peak_tree_mb": round(poller.peak_tree_mb, 1),
                 "peak_proc_mb": round(poller.peak_proc_mb, 1)}
    payload = [ln for ln in lines if ln.startswith("{")]
    if payload and not killed:
        out.update(json.loads(payload[-1]))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=20_000_000)
    ap.add_argument("--maxzoom", type=int, default=13)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--kill-after", type=int, default=3,
                    help="SIGKILL run B after this many bucket checkpoints")
    ap.add_argument("--work", default="/tmp/planetiler_soak")
    ap.add_argument("--job", choices=["prep", "flagship", "checkpoint", "compare"])
    ap.add_argument("--out")
    ap.add_argument("--a")
    ap.add_argument("--b")
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)

    if args.job:  # worker mode
        {"prep": job_prep, "flagship": job_flagship,
         "checkpoint": job_checkpoint, "compare": job_compare}[args.job](args)
        return

    report: dict = {"n": args.n, "maxzoom": args.maxzoom, "buckets": args.buckets}
    print("== prep (untimed input generation) ==", flush=True)
    report["prep"] = _run(args, "prep")
    assert report["prep"]["returncode"] == 0

    print("== flagship: tileset -> PMTiles ==", flush=True)
    report["flagship"] = _run(args, "flagship")
    assert report["flagship"]["returncode"] == 0

    out_a = os.path.join(args.work, "ckpt_A")
    out_b = os.path.join(args.work, "ckpt_B")
    print("== checkpoint run A (uninterrupted reference) ==", flush=True)
    report["ckpt_a"] = _run(args, "checkpoint", ["--out", out_a])
    assert report["ckpt_a"]["returncode"] == 0

    print(f"== checkpoint run B (SIGKILL after {args.kill_after} buckets) ==",
          flush=True)
    report["ckpt_b_killed"] = _run(
        args, "checkpoint", ["--out", out_b],
        kill_after_statuses=args.kill_after,
        status_dir=os.path.join(out_b, "status"))
    assert report["ckpt_b_killed"]["killed"], "kill watcher never fired"
    survivors = sorted(
        int(f.split(".")[0])
        for f in os.listdir(os.path.join(out_b, "status")) if f.endswith(".json"))
    report["ckpt_b_killed"]["buckets_done_at_kill"] = survivors

    print("== checkpoint run B resume ==", flush=True)
    report["ckpt_b_resume"] = _run(args, "checkpoint", ["--out", out_b])
    assert report["ckpt_b_resume"]["returncode"] == 0
    resumed = report["ckpt_b_resume"]["ran_buckets"]
    assert not set(resumed) & set(survivors), \
        f"resume re-ran finished buckets: {set(resumed) & set(survivors)}"

    print("== compare A vs B (per-tile content_hash) ==", flush=True)
    report["compare"] = _run(args, "compare", ["--a", out_a, "--b", out_b])
    assert report["compare"]["returncode"] == 0

    runs_dir = os.path.join(REPO, "BENCH", "runs_r5")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, "soak_r5.json"), "w") as f:
        json.dump(report, f, indent=2)
    with open(os.path.join(runs_dir, "soak_r5.log"), "w") as f:
        f.write(render_md(args, report))
    print(json.dumps(report, indent=2))
    print(f"wrote {runs_dir}/soak_r5.log")


def render_md(args, r: dict) -> str:
    fl, ca, cbk, cbr, cmp_ = (r["flagship"], r["ckpt_a"], r["ckpt_b_killed"],
                              r["ckpt_b_resume"], r["compare"])
    return f"""# Soak r5 — 10x flagship + mid-run kill/resume (VERDICT r4 #6)

Input: {args.n:,} images (deterministic seed=42), z0-{args.maxzoom},
local[32], 128 shuffle partitions, fresh subprocess per phase.

## Flagship: tileset() -> real PMTiles archive

wall {fl['wall_s']}s, {fl['n_tiles']:,} tiles ({fl['tiles_per_s']:,}/s),
archive {fl['archive_mb']} MB ({fl['n_entries']:,} dir entries).
Peak memory: process tree {fl['peak_tree_mb']:,} MB RSS;
largest single process (JVM) {fl['peak_proc_mb']:,} MB VmHWM.
Driver stays bounded: tile bytes stream via toLocalIterator, only
directory entries + the dedup map are resident.

## Checkpoint/resume at the same scale ({args.buckets} buckets)

- Run A (uninterrupted): wall {ca['wall_s']}s, {ca['n_tiles']:,} tiles,
  peak tree {ca['peak_tree_mb']:,} MB.
- Run B: SIGKILLed the whole process group after
  {len(cbk.get('buckets_done_at_kill', []))} bucket checkpoints landed
  (buckets {cbk.get('buckets_done_at_kill')}).
- Resume: re-ran ONLY {cbr['ran_buckets']} in {cbr['wall_s']}s —
  finished buckets skipped via lineage match, none recomputed.

## Equality check (north_rule resumability)

Per-tile (bucket, z, x, y, content_hash) across the full output:
A={cmp_['n_a']:,} rows, B={cmp_['n_b']:,} rows, A\\B={cmp_['only_a']},
B\\A={cmp_['only_b']} -> **equal: {cmp_['equal']}**.
The killed-and-resumed run is byte-identical (content hash per tile)
to the uninterrupted run.

Reproduce: `python tools/soak_r5.py --n {args.n} --maxzoom {args.maxzoom}`
"""


if __name__ == "__main__":
    main()
