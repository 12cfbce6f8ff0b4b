"""The two workloads, and the registry rows that traced backfill runs
add.  Each takes a ``Ctx`` (session, fake server, work directory, seed,
seconds, trace flag) and returns a ``Result``: end-to-end metrics,
per-layer metrics and the correctness count; spans go to ``ctx.spans``.

The product path is driven unchanged: staged files -> ``FileLogRunner``
-> ``LogPipeline.parse_with_deadletter`` -> ``ClickHouseSink`` ->
``NativeClickHouseClient(compression="lz4")`` -> the fake server, with
the dead-letter parquet query beside it.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from grower_spark.driver_queries import SYNTH_CONFIG
from grower_spark.plans.pipeline import LogPipeline
from grower_spark.sinks.clickhouse import ClickHouseSink
from grower_spark.streaming.filelog import FileLogRunner

from perfbench import gen
from perfbench.client import NativeFactory, Spans, TracedSink, read_spans
from perfbench.fakech import FakeNativeServer, block_rows
from perfbench.metrics import median, pct, progress_dicts, stream_summary

COLUMN_NAMES = [c for c, _ in gen.COLUMNS]
TYPES = dict(gen.COLUMNS)

# backfill: one drain is 400,000 lines, the drain size of the prototype
# measurement (19-21k lines/s warm on four cores), staged as four rotated
# files of 100,000 lines (10 s each at the 10k lines/s design point); the
# untimed warm-up drain of the same shape runs first (the first drain
# after set-up runs 20-40% slower while the JVM compiles)
BACKFILL_FILE_LINES = 100_000
BACKFILL_FILES = 4
# live tail: a 10,000-line file every 2 s (5,000 lines/s), 1 s trigger
TRICKLE_FILE_LINES = 10_000
TRICKLE_PERIOD_S = 2.0
TRICKLE_TRIGGER_S = 1
TRICKLE_WARM_FILES = 3
# the registry rows a traced backfill run measures
REGISTRY_ROWS = ("streaming_drift_gate", "dedup_simhash_pairs")
REGISTRY_METRICS = tuple(f"registry.{r}_{k}" for r in REGISTRY_ROWS for k in ("s", "jobs")) + (
    "registry.state_commit_ms", "registry.state_rows_total", "registry.stream_batches")
# per-layer metrics a workload does not produce: run.py reports them as
# 0 and fails on any other metric that is missing
NOT_RUN = {
    "backfill_native": {"streaming.backlog_lines_max", "streaming.generator_late_s_max"},
    "trickle_native": set(REGISTRY_METRICS),
}


@dataclass
class Ctx:
    spark: object
    server: FakeNativeServer
    work: str
    seed: int
    seconds: float
    trace: bool
    inject: str | None = None
    spans: Spans = field(default_factory=lambda: Spans(""))


@dataclass
class Result:
    e2e: dict
    layers: dict
    attempted: int
    failed: int
    notes: dict = field(default_factory=dict)


# --- shared ingest plumbing -------------------------------------------------

def make_sink(server: FakeNativeServer, trace_id: str, trace_dir: str | None = None,
              parent: str | None = None) -> ClickHouseSink:
    factory = NativeFactory("127.0.0.1", server.port)
    if trace_dir is None:
        return ClickHouseSink(gen.TABLE, COLUMN_NAMES, factory)
    return TracedSink(gen.TABLE, COLUMN_NAMES, factory, trace_dir=trace_dir,
                      trace_id=trace_id, parent=parent, types=TYPES)


def foreach_batch(ctx: Ctx, run_id: str, trace_dir: str | None):
    """The sink's ``foreach_batch()``; traced runs wrap each call in a
    driver-side span (a child of the runner's span) and give the
    executors the batch's trace id."""
    if trace_dir is None:
        return make_sink(ctx.server, run_id).foreach_batch()

    def write(batch_df, batch_id):
        trace_id = f"{run_id}/{batch_id}"
        span_id = f"sinks.add_batch:{trace_id}"
        t0 = time.time()
        make_sink(ctx.server, trace_id, trace_dir, span_id).foreach_batch()(batch_df, batch_id)
        ctx.spans.add("sinks.add_batch", t0, time.time(), runner_span_id(run_id),
                      span_id, trace_id=trace_id)

    return write


def runner_span_id(run_id: str) -> str:
    return f"streaming.runner:{run_id}"


def add_runner_span(ctx: Ctx, run_id: str, t0: float, t1: float) -> None:
    ctx.spans.add("streaming.runner", t0, t1, None, runner_span_id(run_id),
                  trace_id=run_id)


def start_runner(ctx: Ctx, name: str, run_id: str, trace_dir: str | None,
                 **kw) -> FileLogRunner:
    base = os.path.join(ctx.work, name)
    for sub in ("logs", "stage", "ck", "dl", "out"):
        os.makedirs(os.path.join(base, sub), exist_ok=True)
    return FileLogRunner(
        ctx.spark, SYNTH_CONFIG,
        logs_dir=os.path.join(base, "logs"),
        output_path=os.path.join(base, "out"),
        checkpoint_root=os.path.join(base, "ck"),
        deadletter_path=os.path.join(base, "dl"),
        foreach_batch=foreach_batch(ctx, run_id, trace_dir),
        **kw,
    ).start()


def runner_progress(runner: FileLogRunner) -> tuple[list[dict], list[dict]]:
    main, dl = runner.queries
    return progress_dicts(main.recentProgress), progress_dicts(dl.recentProgress)


def _request_of(line: str) -> str:
    return line.split('"', 2)[1]


def apply_injection(server: FakeNativeServer, how: str | None) -> None:
    """Corrupt what the server received, to prove the check catches it."""
    if not how or not server.blocks:
        return
    blk = server.blocks[0]
    if how == "drop":
        server.blocks.pop(0)
    elif how == "dup":
        server.blocks.append(blk)
    elif how == "flip" and blk.frames:
        f = bytearray(blk.frames[0])
        f[-1] ^= 0xFF
        blk.frames[0] = bytes(f)


def check_delivery(ctx: Ctx, files: list[gen.LogFile], dl_dirs: list[str],
                   warm: tuple[gen.LogFile, ...] = ()):
    """Compare what the server and the dead-letter parquet hold with the
    generator's ground truth.  Every line is keyed by its unique request
    path; a line fails if it is lost, duplicated, altered or routed to
    the wrong side.  The dead-letter lines of the ``warm`` files, written
    before the window, are skipped.  Returns (failed keys, received
    [(recv_time, row)], timed dead-letter line count, notes)."""
    import pyarrow.parquet as pq

    apply_injection(ctx.server, ctx.inject)
    notes: dict = {"server_errors": list(ctx.server.errors)}
    got: dict[str, list] = {}
    received = []
    order = None
    for blk in ctx.server.blocks:
        try:
            block = ctx.server.decode_one(blk)
        except Exception as exc:  # any decode failure: the block's rows count as lost
            notes.setdefault("decode_errors", []).append(repr(exc))
            continue
        if order is None:
            names = [n for n, _, _ in block]
            order = [names.index(c) for c in COLUMN_NAMES]
        for row in block_rows(block):
            row = tuple(row[i] for i in order)
            got.setdefault(row[3], []).append(row)
            received.append((blk.recv_time, row))
    dl_lines: Counter = Counter()
    for d in dl_dirs:
        if any(not n.startswith(("_", ".")) for n in os.listdir(d)):
            dl_lines.update(pq.read_table(d, columns=["line"]).column("line").to_pylist())
    for line in (line for f in warm for line in f.malformed):
        dl_lines[line] -= 1
    dl_lines = +dl_lines
    dl_keys = Counter(_request_of(line) for line in dl_lines.elements())

    failed = set()
    known = set()
    for f in files:
        for row in f.expected:
            key = row[3]
            known.add(key)
            if got.get(key) != [row] or key in dl_keys:
                failed.add(key)
        for line in f.malformed:
            key = _request_of(line)
            known.add(key)
            if dl_lines.get(line) != 1 or key in got:
                failed.add(key)
    failed |= (set(got) | set(dl_keys)) - known
    if ctx.server.errors:
        failed.add("<server stream error>")
    notes["failed_examples"] = sorted(failed)[:5]
    return failed, received, sum(dl_lines.values()), notes


def trace_probes(ctx: Ctx, paths: list[str], n_lines: int) -> dict:
    """Traced-run probes over the run's own files: the text scan alone,
    then ``parse_with_deadletter`` with both sides going to ``noop``."""
    spark = ctx.spark
    t0 = time.time()
    spark.read.text(paths).write.format("noop").mode("overwrite").save()
    t1 = time.time()
    good, bad = LogPipeline(SYNTH_CONFIG).parse_with_deadletter(spark.read.text(paths))
    good.write.format("noop").mode("overwrite").save()
    bad.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    ctx.spans.add("sources.read", t0, t1)
    parse_id = ctx.spans.add("plans.parse_both_sides", t1, t2)
    # each side scans the files once more: charge two scans to sources
    read_s = t1 - t0
    ctx.spans.add("sources.read_for_parse", t1, t1 + 2 * read_s, parse_id)
    parse_s = max((t2 - t1) - 2 * read_s, 1e-9)
    return {
        "sources.read_s": read_s,
        "plans.parse_s": parse_s,
        "plans.lines_per_s": n_lines / parse_s,
    }


def sink_layers(ctx: Ctx, spans: list[dict], dl_progress: list[dict]) -> dict:
    def total(name, key=None):
        sel = [s for s in spans if s["name"] == name]
        if key is None:
            return sum(s["end"] - s["start"] for s in sel)
        return sum(s.get(key, 0) for s in sel)

    ins = [s for s in spans if s["name"] == "sinks.insert"]
    ok = [s for s in ins if not s["error"]]
    insert_s = sum(s["end"] - s["start"] for s in ok)
    encode_s, compress_s = total("sinks.encode"), total("sinks.compress")
    raw = sum(b.raw_bytes for b in ctx.server.blocks)
    wire = sum(b.wire_bytes for b in ctx.server.blocks)
    return {
        "sinks.connects": sum(1 for s in spans if s["name"] == "sinks.connect"),
        "sinks.inserts": len(ok),
        "sinks.rows_per_insert": (sum(s["rows"] for s in ok) / len(ok)) if ok else 0,
        "sinks.insert_s": insert_s,
        "sinks.encode_s": encode_s,
        "sinks.encode_values_per_s": (
            total("sinks.encode", "values") / encode_s if encode_s else 0),
        "sinks.compress_s": compress_s,
        "sinks.send_s": max(insert_s - encode_s - compress_s, 0.0),
        "sinks.upstream_wait_s": total("sinks.partition", "upstream_wait_s"),
        "sinks.bytes_raw": raw,
        "sinks.bytes_wire": wire,
        "sinks.compress_ratio": raw / wire if wire else 0,
        "sinks.insert_errors": len(ins) - len(ok),
        "sinks.retries": sum(1 for s in ins if s["retry"]),
        "sinks.deadletter_add_batch_ms": sum(
            float((p.get("durationMs") or {}).get("addBatch", 0))
            for p in dl_progress if p.get("numInputRows", 0) > 0),
    }


def ingest_layers(ctx: Ctx, log_dirs: list[str], n_lines: int, n_valid: int,
                  dl_count: int, main_p: list[dict], dl_p: list[dict],
                  trace_dir: str, since: float = 0.0) -> dict:
    """Per-layer metrics of an ingest run; ``n_lines``/``n_valid`` count
    the timed lines, executor spans count from ``since`` (the window's
    start), and the probes scan everything in ``log_dirs``."""
    layers = stream_summary(main_p, dl_p)
    layers["sources.scan_amplification"] = layers["sources.lines_read"] / n_lines
    layers["plans.valid_ratio"] = n_valid / n_lines
    layers["plans.deadletter_lines"] = dl_count
    probe_lines = 0
    for d in log_dirs:
        for n in os.listdir(d):
            with open(os.path.join(d, n)) as f:
                probe_lines += sum(1 for _ in f)
    layers.update(trace_probes(ctx, log_dirs, probe_lines))
    exec_spans = [sp for sp in read_spans(trace_dir) if sp["start"] >= since]
    ctx.spans.items.extend(exec_spans)
    layers.update(sink_layers(ctx, exec_spans, dl_p))
    return layers


# --- backfill_native ----------------------------------------------------------

def backfill(ctx: Ctx) -> Result:
    """Closed batch: each drain stages BACKFILL_FILES rotated files and
    ``FileLogRunner(available_now=True)`` drains them one file per
    trigger, after one untimed warm-up drain."""
    g = gen.LogGenerator(ctx.seed)
    trace_dir = os.path.join(ctx.work, "trace") if ctx.trace else None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
    seq = 0

    def new_files():
        nonlocal seq
        seq += BACKFILL_FILES
        return [g.file(s, BACKFILL_FILE_LINES) for s in range(seq - BACKFILL_FILES + 1, seq + 1)]

    def drain(name, logs, timed):
        base = os.path.join(ctx.work, name)
        for sub in ("logs", "stage"):
            os.makedirs(os.path.join(base, sub), exist_ok=True)
        for log in logs:
            gen.stage(log, os.path.join(base, "stage"), os.path.join(base, "logs"))
        t0 = time.time()
        runner = start_runner(ctx, name, f"backfill_native/{name}",
                              trace_dir if timed else None, available_now=True)
        runner.await_termination()
        t1 = time.time()
        if timed and trace_dir:
            add_runner_span(ctx, f"backfill_native/{name}", t0, t1)
        return logs, t0, t1, runner

    _, t0, t1, _ = drain("warm", new_files(), timed=False)
    notes = {"warm_drain_s": round(t1 - t0, 3)}
    ctx.server.reset()
    # whole drains, as many as fit in ``seconds`` (at least one): another
    # starts only while one as long as the last still ends in time
    drains = []
    deadline = time.time() + ctx.seconds
    while not drains or time.time() + (drains[-1][2] - drains[-1][1]) <= deadline:
        drains.append(drain(f"drain{len(drains)}", new_files(), timed=True))

    files = [f for logs, *_ in drains for f in logs]
    t_check = time.time()
    failed, received, dl_count, check_notes = check_delivery(
        ctx, files, [os.path.join(ctx.work, f"drain{i}", "dl") for i in range(len(drains))])
    notes.update(check_notes, check_s=round(time.time() - t_check, 3))
    # a drain is one closed batch: its latency runs from runner start to
    # the receipt of its last line, the time to a complete result
    seq_drain = {f.seq: i for i, (logs, *_) in enumerate(drains) for f in logs}
    per_drain = Counter()
    done = [t0 for _, t0, _, _ in drains]
    for recv, row in received:
        i = seq_drain.get(gen.line_seq(row[3]))
        if i is not None:
            per_drain[i] += 1
            done[i] = max(done[i], recv)
    rates = [per_drain[i] / (t1 - t0) for i, (_, t0, t1, _) in enumerate(drains)]
    lat = [d - t0 for d, (_, t0, _, _) in zip(done, drains)]
    n_lines = sum(len(f.lines) for f in files)
    n_valid = sum(len(f.expected) for f in files)
    e2e = {
        "throughput_per_s": median(rates),
        "latency_p50_s": median(lat),
        "latency_p99_s": pct(lat, 99),
    }
    layers = {}
    if trace_dir:
        main_p, dl_p = [], []
        for *_, runner in drains:
            m, d = runner_progress(runner)
            main_p += m
            dl_p += d
        log_dirs = [os.path.join(ctx.work, f"drain{i}", "logs") for i in range(len(drains))]
        layers = ingest_layers(ctx, log_dirs, n_lines, n_valid, dl_count, main_p, dl_p,
                               trace_dir)
    notes["drain_s"] = [round(t1 - t0, 3) for _, t0, t1, _ in drains]
    return Result(e2e, layers, n_lines, len(failed), notes)


# --- trickle_native -----------------------------------------------------------

def trickle(ctx: Ctx) -> Result:
    """Open loop at 5,000 lines/s: a TRICKLE_FILE_LINES file is renamed
    into the watched directory every TRICKLE_PERIOD_S seconds on a fixed
    schedule, whatever the program does.  A line's latency runs from its
    file's due time to the server's receipt of the block holding it."""
    g = gen.LogGenerator(ctx.seed)
    trace_dir = os.path.join(ctx.work, "trace") if ctx.trace else None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
    base = os.path.join(ctx.work, "tail")
    t_runner = time.time()
    runner = start_runner(ctx, "tail", "trickle_native/tail", trace_dir,
                          scrape_interval_seconds=TRICKLE_TRIGGER_S)
    logs_dir, stage_dir = os.path.join(base, "logs"), os.path.join(base, "stage")
    main_q, dl_q = runner.queries
    staged_lines = 0

    def wait_consumed(timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            done = all(
                sum(p.get("numInputRows", 0)
                    for p in progress_dicts(q.recentProgress)) >= staged_lines
                for q in (main_q, dl_q))
            if done:
                return True
            time.sleep(0.25)
        return False

    try:
        # full-size files at the schedule's cadence warm the path
        warm = tuple(g.file(1 + k, TRICKLE_FILE_LINES) for k in range(TRICKLE_WARM_FILES))
        for i, f in enumerate(warm):
            if i:
                time.sleep(TRICKLE_PERIOD_S)
            gen.stage(f, stage_dir, logs_dir)
            staged_lines += len(f.lines)
        wait_consumed(120)
        ctx.server.reset()
        t_window = time.time()

        n_files = max(1, int(ctx.seconds // TRICKLE_PERIOD_S))
        files = [g.file(1 + len(warm) + k, TRICKLE_FILE_LINES) for k in range(n_files)]
        # Files are written ahead under temporary names; at its due time
        # a file is only renamed in.  Due times sit half-way between the
        # trigger's whole-second ticks, the mean of a uniform phase.
        tmp_paths = []
        for f in files:
            p = os.path.join(stage_dir, f".access-{f.seq:06d}.log.tmp")
            with open(p, "w") as fh:
                fh.write("\n".join(f.lines) + "\n")
            tmp_paths.append(p)
        t_start = float(int(time.time())) + 2.5
        due = {f.seq: t_start + k * TRICKLE_PERIOD_S for k, f in enumerate(files)}
        renamed: dict[int, float] = {}

        def generator():
            for f, p in zip(files, tmp_paths):
                delay = due[f.seq] - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(p, os.path.join(logs_dir, f"access-{f.seq:06d}.log"))
                renamed[f.seq] = time.time()

        gth = threading.Thread(target=generator, daemon=True)
        gth.start()
        gth.join(n_files * TRICKLE_PERIOD_S + 30)
        staged_lines += sum(len(f.lines) for f in files)
        drained = wait_consumed(120)
        main_p, dl_p = (
            [p for p in progress_dicts(q.recentProgress) if _started(p) >= t_window]
            for q in (main_q, dl_q))
    finally:
        runner.stop()
    if trace_dir:
        add_runner_span(ctx, "trickle_native/tail", t_runner, time.time())

    failed, received, dl_count, notes = check_delivery(
        ctx, files, [os.path.join(base, "dl")], warm)
    notes["drained"] = drained
    per_file: dict[int, float] = {}
    for recv, row in received:
        seq = gen.line_seq(row[3])
        per_file[seq] = max(per_file.get(seq, 0.0), recv - due.get(seq, recv))
    notes["file_latency_s"] = [round(per_file.get(f.seq, -1), 3) for f in files]
    lat = [recv - due[gen.line_seq(row[3])] for recv, row in received
           if gen.line_seq(row[3]) in due]
    last = max((recv for recv, _ in received), default=t_start + 1)
    n_lines = sum(len(f.lines) for f in files)
    n_valid = sum(len(f.expected) for f in files)
    e2e = {
        "throughput_per_s": len(lat) / max(last - t_start, 1e-9),
        "latency_p50_s": median(lat) if lat else 0.0,
        "latency_p99_s": pct(lat, 99) if lat else 0.0,
    }
    layers = {}
    if trace_dir:
        layers = ingest_layers(ctx, [logs_dir], n_lines, n_valid, dl_count,
                               main_p, dl_p, trace_dir, since=t_window)
        layers["streaming.backlog_lines_max"] = _backlog_max(main_p, files, renamed)
        layers["streaming.generator_late_s_max"] = max(
            renamed[s] - due[s] for s in renamed)
    return Result(e2e, layers, n_lines, len(failed), notes)


def _started(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _backlog_max(main_p, files, renamed) -> int:
    """Largest count of lines already renamed in but not yet read by
    the main query, seen at the start of any trigger of the window."""
    sizes = {f.seq: len(f.lines) for f in files}
    consumed = 0
    worst = 0
    for p in main_p:
        t = _started(p)
        arrived = sum(sizes[s] for s, r in renamed.items() if r <= t)
        worst = max(worst, arrived - consumed)
        consumed += p.get("numInputRows", 0)
    return worst


# --- registry rows (traced backfill runs) -------------------------------------

def registry_layers(ctx: Ctx) -> Result:
    """The heavy registry rows on seeded tables, for the per-layer
    output: two untimed passes (staging, codegen, workers, JIT), then one
    timed pass under a job group per row.  Each result is hashed against
    the row's DuckDB oracle, computed once beforehand."""
    import importlib.util

    import duckdb

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "minidriver", os.path.join(root, "tools", "minidriver.py"))
    minidriver = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(minidriver)

    data = os.path.join(ctx.work, "sf")
    gen.write_registry_tables(ctx.seed, data)
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    oracles = entry.oracle_sql()
    want = {}
    for row in REGISTRY_ROWS:
        res = con.execute(oracles[row])
        want[row] = minidriver.table_hash([d[0] for d in res.description],
                                          res.fetchall())
    con.close()

    spark, sc = ctx.spark, ctx.spark.sparkContext
    queries = entry.queries()
    listener = _progress_listener()
    spark.streams.addListener(listener)
    layers, results = {}, []
    try:
        for timed in (False, False, True):
            p0 = time.time()
            pass_id = f"registry.pass:{p0}"
            listener.events.clear()
            for row in REGISTRY_ROWS:
                sc.setJobGroup(row, row)
                before = len(sc.statusTracker().getJobIdsForGroup(row))
                t0 = time.time()
                df = queries[row](spark, data)
                out = [tuple(r) for r in df.collect()]
                t1 = time.time()
                results.append((row, df.columns, out))
                if timed:
                    ctx.spans.add(f"registry.{row}", t0, t1, pass_id,
                                  trace_id=f"registry/{row}")
                    layers[f"registry.{row}_s"] = t1 - t0
                    layers[f"registry.{row}_jobs"] = len(
                        sc.statusTracker().getJobIdsForGroup(row)) - before
            sc.setJobGroup("perfbench", "perfbench")
        ctx.spans.add("registry.pass", p0, time.time(), None, pass_id, trace_id="registry")
        prog = progress_dicts(listener.events)
    finally:
        spark.streams.removeListener(listener)

    ops = [op for p in prog for op in p.get("stateOperators", [])]
    layers["registry.state_commit_ms"] = sum(float(op.get("commitTimeMs", 0)) for op in ops)
    last_rows = {p.get("runId"): sum(int(op.get("numRowsTotal", 0))
                                     for op in p.get("stateOperators", []))
                 for p in prog}
    layers["registry.state_rows_total"] = sum(last_rows.values())
    layers["registry.stream_batches"] = len(prog)
    if ctx.inject:
        row, cols, out = results[-1]
        results[-1] = (row, cols, out[1:] + [tuple("x" for _ in cols)])
    failed = sum(1 for row, cols, out in results
                 if minidriver.table_hash(cols, out) != want[row])
    return Result({}, layers, len(results), failed, {"rows": list(REGISTRY_ROWS)})


def _progress_listener():
    """A listener collecting every progress event of the streaming
    queries the registry rows start internally (their query handles are
    not returned to the caller)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.events.append(event.progress)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()
