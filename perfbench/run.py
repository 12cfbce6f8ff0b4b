"""Product-path benchmark for grower_spark.

    python3 perfbench/run.py --workload backfill_native --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``backfill_native``: staged rotated files drained by
  ``FileLogRunner(available_now=True)`` into a fake native ClickHouse
  server over LZ4; as many 400,000-line drains as fit in ``--seconds``
  (at least one).
- ``trickle_native``: an open loop of 5,000 lines/s (a 10,000-line file
  every 2 s) into a running ``FileLogRunner`` with a 1 s trigger.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and probes around each layer's calls and prints the
per-layer metrics.  A traced backfill run also times the heavy registry
rows on seeded tables, each checked against its DuckDB oracle.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code is 0
only when every output matched its ground truth.  Each run also writes a
result file with its provenance under ``perfbench/_results/`` (never
over a run with another config).  ``--inject drop|dup|flip`` corrupts
the delivered data after the run, to show that the check fails.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4  # local[4]: the loads are sized for four cores


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_hash() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "grower_spark", "**", "*.py"),
                             recursive=True))
    for path in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def git_rev() -> str | None:
    """HEAD of the repository this checkout is, or None when it is not
    one (an enclosing repository's HEAD would mislabel the run)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def isolate_scratch(work: str) -> None:
    """Point Spark's and Python's scratch space inside the work dir."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
        "pyspark-shell")


def new_session(server):
    """One set-up: the program's ``get_spark`` plus a warm-up batch that
    runs parse -> ClickHouseSink into the fake server (codegen, Python
    workers, sink imports).  Returns (spark, start_s, warm_s)."""
    from grower_spark.driver_queries import SYNTH_CONFIG
    from grower_spark.plans.pipeline import LogPipeline
    from grower_spark.session import get_spark

    from perfbench import gen
    from perfbench.workloads import make_sink

    t0 = time.time()
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    log = gen.LogGenerator(10**9).file(0, 500)
    df = spark.createDataFrame([(line,) for line in log.lines], "value string")
    good, bad = LogPipeline(SYNTH_CONFIG).parse_with_deadletter(df)
    make_sink(server, "warm").foreach_batch()(good, 0)
    if bad.count() != len(log.malformed):
        raise RuntimeError("warm-up batch routed lines wrongly")
    server.reset()
    return spark, t1 - t0, time.time() - t1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait until
    no process this one started (JVM, Python workers) is left."""
    from pyspark import SparkContext

    from perfbench.metrics import alive, descendants

    started = descendants(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in started):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill_native", "trickle_native"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["drop", "dup", "flip"], default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "grower_spark", "__init__.py")):
        print(f"perfbench: no grower_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_proc = process_start_time()
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    isolate_scratch(work)
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_rev": git_rev(), "src_hash": source_hash(),
        "host_cpus": os.cpu_count(), "spark_cpus": CPUS,
        "loadavg_before": loadavg(), "python": sys.version.split()[0],
    }

    from perfbench import workloads
    from perfbench.fakech import FakeNativeServer
    from perfbench.metrics import self_times, tree_peak_rss_mb

    server = FakeNativeServer(workloads.gen.COLUMNS)
    spark = None
    try:
        spark, start_s, warm_s = new_session(server)
        setup_s = time.time() - t_proc
        import pyspark

        prov["pyspark"] = pyspark.__version__
        prov["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        ctx = workloads.Ctx(spark, server, work, args.seed, args.seconds,
                            bool(args.trace), args.inject)
        ctx.spans.trace_id = f"{args.workload}/seed{args.seed}"
        ctx.spans.add("session.start", t_proc, t_proc + setup_s - warm_s)
        ctx.spans.add("session.warm", t_proc + setup_s - warm_s, t_proc + setup_s)
        run = {"backfill_native": workloads.backfill,
               "trickle_native": workloads.trickle}[args.workload]
        phases = {"setup_done": time.time() - t_proc}
        res = run(ctx)
        if args.trace and args.workload == "backfill_native":
            reg = workloads.registry_layers(ctx)
            res.layers.update(reg.layers)
            res.attempted += reg.attempted
            res.failed += reg.failed
        phases["workload_done"] = time.time() - t_proc
    finally:
        mem = tree_peak_rss_mb()
        app = spark.sparkContext.applicationId if spark is not None else None
        if spark is not None:
            stop_spark(spark)
        server.close()
        if app:  # the registry rows stage replays under /tmp
            for d in glob.glob(f"/tmp/grower_*_{app.replace('-', '_')}_*"):
                shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        prov["loadavg_after"] = loadavg()
    phases["teardown_done"] = time.time() - t_proc

    e2e = dict(res.e2e, setup_s=setup_s,
               pyworker_peak_rss_mb=mem.get("pyworker", 0.0))
    layers = dict(res.layers)
    layers.update({
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "process.peak_rss_mb": mem["total"],
        "process.jvm_peak_rss_mb": mem.get("jvm", 0.0),
        "process.driver_peak_rss_mb": mem.get("driver", 0.0),
        "failed_ratio": res.failed / max(res.attempted, 1),
    })
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    chosen = spec["end_to_end"] if not args.trace else spec["per_layer"]
    produced = {**dict.fromkeys(workloads.NOT_RUN[args.workload], 0.0), **layers, **e2e}
    missing = [m["name"] for m in chosen if m["name"] not in produced]
    if missing:
        print(f"perfbench: {args.workload} produced no {', '.join(missing)}", file=sys.stderr)
        return 2
    metrics = {m["name"]: {"value": float(produced[m["name"]]), "unit": m["unit"]}
               for m in chosen}
    out = {"correct": res.failed == 0, "attempted": res.attempted,
           "failed": res.failed, "metrics": metrics}

    record = {
        "provenance": prov, "result": out, "e2e": e2e, "layers": layers,
        "phases_s": phases, "notes": res.notes,
        "self_time_s": self_times(ctx.spans.items) if args.trace else {},
    }
    rdir = os.path.join(HERE, "_results", args.workload)
    os.makedirs(rdir, exist_ok=True)
    key = (f"{prov['git_rev'] or 'src-' + prov['src_hash']}-cpus{CPUS}of{os.cpu_count()}"
           f"-seed{args.seed}-s{args.seconds:g}-trace{args.trace}")
    with open(os.path.join(rdir, key + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(rdir, key + ".spans.jsonl"), "w") as f:
            for s in ctx.spans.items:
                f.write(json.dumps(s) + "\n")
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
