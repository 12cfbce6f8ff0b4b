"""Failure-injection proof of the effectively-once claim (SCALE.md):

Structured Streaming replays the last uncommitted micro-batch after a
crash, so a sink that already delivered it would double-insert.
IdempotentForeachBatch's marker commit makes the replay a no-op.  Both
directions are tested — the guard yields exactly-once output, and the
same crash WITHOUT the guard yields duplicates (so the scenario is real,
not vacuously passing) — once with a file-appending sink and once
through the production sink: ``ClickHouseSink`` + ``NativeClickHouseClient``
into the fake native server.
"""

import os

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from grower_spark.sinks.chnative import NativeClickHouseClient
from grower_spark.sinks.clickhouse import ClickHouseSink, IdempotentForeachBatch
from grower_spark.sources.filebuf import FileBufDataSource, write_frames


def _run_stream(spark, spool, ck, sink_fn):
    q = (
        spark.readStream.format("filebuf")
        .load(str(spool))
        .writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


class DeliverySink:
    """Appends each batch's rows to a file (the 'database')."""

    def __init__(self, out_path: str):
        self.out_path = out_path

    def __call__(self, batch_df, batch_id: int) -> None:
        rows = [r["value"] for r in batch_df.collect()]
        with open(self.out_path, "a") as fh:
            for v in sorted(rows):
                fh.write(v + "\n")


class CrashAfter:
    """Calls the wrapped sink, then — once, controlled by a flag file —
    raises, simulating a crash in the window between sink success (and,
    when guarded, the marker commit) and Spark's checkpoint commit."""

    def __init__(self, inner, crash_flag: str):
        self.inner = inner
        self.crash_flag = crash_flag

    def __call__(self, batch_df, batch_id: int) -> None:
        self.inner(batch_df, batch_id)
        if os.path.exists(self.crash_flag):
            os.unlink(self.crash_flag)
            raise RuntimeError("injected crash after delivery, before commit")


def _delivered(out_path: str) -> list[str]:
    if not os.path.exists(out_path):
        return []
    with open(out_path) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def _crash_then_restart(spark, tmp_path, delivery, delivered, guarded):
    """Deliver batch 1 and crash before Spark commits it, restart from the
    checkpoint (replaying batch 1), then drain batch 2.  Returns what was
    delivered after the crash, after the replay and at the end."""
    spark.dataSource.register(FileBufDataSource)
    spool = tmp_path / "spool"
    spool.mkdir()
    ck = tmp_path / "ck"
    flag = str(tmp_path / "crash.flag")

    guarded_or_not = (
        IdempotentForeachBatch(delivery, str(tmp_path / "markers"))
        if guarded
        else delivery
    )
    sink = CrashAfter(guarded_or_not, flag)

    write_frames(str(spool / "b1.fbuf"), ["a", "b"])
    open(flag, "w").close()  # arm the one-shot crash
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _run_stream(spark, spool, ck, sink)
    after_crash = sorted(delivered())

    # restart from the same checkpoint: Spark replays the uncommitted
    # batch (an availableNow restart processes ONLY the replayed batch —
    # verified behavior of the SimpleDataSourceStreamReader path), so new
    # data needs one more drain
    write_frames(str(spool / "b2.fbuf"), ["c"])
    _run_stream(spark, spool, ck, sink)
    after_replay = sorted(delivered())
    _run_stream(spark, spool, ck, sink)
    return after_crash, after_replay, sorted(delivered())


def _assert_once_iff_guarded(runs, guarded):
    after_crash, after_replay, got = runs
    assert after_crash == ["a", "b"]  # delivery DID happen pre-crash
    if guarded:
        assert after_replay == ["a", "b"]  # replay was a no-op
        assert got == ["a", "b", "c"]  # exactly once end-to-end
    else:
        assert after_replay == ["a", "a", "b", "b"]  # replay re-inserted
        assert got == ["a", "a", "b", "b", "c"]  # at-least-once duplicates


@pytest.mark.parametrize("guarded", [True, False])
def test_crash_replay_duplicates_iff_unguarded(spark, tmp_path, guarded):
    out = str(tmp_path / "out.txt")
    runs = _crash_then_restart(spark, tmp_path, DeliverySink(out),
                               lambda: _delivered(out), guarded)
    _assert_once_iff_guarded(runs, guarded)


@pytest.mark.parametrize("guarded", [True, False])
def test_native_sink_crash_replay_once_iff_guarded(spark, tmp_path, guarded):
    """The same crash through the native ClickHouse sink: the rows the
    fake server holds equal the input multiset only with the guard."""
    from test_chnative import FakeNativeServer

    srv = FakeNativeServer(table_types={"value": "String"})
    port = srv.port
    sink = ClickHouseSink(
        table="logs.t",
        columns=["value"],
        client_factory=lambda: NativeClickHouseClient(
            "127.0.0.1", port, compression="lz4"),
    )
    try:
        runs = _crash_then_restart(
            spark, tmp_path, sink.foreach_batch(),
            lambda: [v for block in srv.inserts for v in block[0][2]], guarded)
    finally:
        srv.close()
    _assert_once_iff_guarded(runs, guarded)
