"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py

1. The fake server round-trips ``NativeClickHouseClient.insert`` with
   ``compression="lz4"`` and with no compression, including a block
   larger than one compressed frame.
2. The generator's expected tuples equal ``LogPipeline.parse`` on a
   sample, and its malformed lines are exactly the parse's rejects.

Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from grower_spark.sinks.chnative import NativeClickHouseClient  # noqa: E402

from perfbench import gen  # noqa: E402
from perfbench.fakech import FakeNativeServer, block_rows  # noqa: E402


def check_server_roundtrip() -> None:
    log = gen.LogGenerator(7).file(1, 12_000)  # ~1.3 MB: two LZ4 frames
    names = [c for c, _ in gen.COLUMNS]
    for compression in ("lz4", False):
        server = FakeNativeServer(gen.COLUMNS)
        try:
            client = NativeClickHouseClient("127.0.0.1", server.port,
                                            compression=compression)
            client.insert(gen.TABLE, log.expected[:10], names)
            client.insert(gen.TABLE, log.expected[10:], names)
            client.close()
            got = [row for blk in server.blocks
                   for row in block_rows(server.decode_one(blk))]
        finally:
            server.close()
        if server.errors or got != log.expected:
            raise SystemExit(f"server round-trip failed ({compression=}): "
                             f"{server.errors or 'rows differ'}")
        print(f"ok  fake server round-trip, compression={compression!r}, "
              f"{len(got)} rows in {len(server.blocks)} blocks")


def check_generator_against_parse() -> None:
    import datetime as dt

    from grower_spark.driver_queries import SYNTH_CONFIG
    from grower_spark.plans.pipeline import LogPipeline
    from grower_spark.session import get_spark

    log = gen.LogGenerator(11).file(3, 3000)
    spark = get_spark("perfbench-selftest", cpus=2)
    try:
        df = spark.createDataFrame([(line,) for line in log.lines], "value string")
        good, bad = LogPipeline(SYNTH_CONFIG).parse_with_deadletter(df)
        rows = []
        for r in good.collect():
            t = r["time_local"].replace(tzinfo=dt.timezone.utc)
            rows.append((r["remote_addr"], r["remote_user"], int(t.timestamp()),
                         r["request"], r["status"], r["bytes_sent"],
                         r["request_time"], r["request_method"]))
        rejects = sorted(r["line"] for r in bad.collect())
    finally:
        spark.stop()
    if sorted(rows) != sorted(log.expected):
        diff = sorted(set(rows) ^ set(log.expected))[:3]
        raise SystemExit(f"generator ground truth differs from parse: {diff}")
    if rejects != sorted(log.malformed):
        raise SystemExit("generator malformed lines differ from parse rejects")
    print(f"ok  generator matches LogPipeline.parse: {len(rows)} valid, "
          f"{len(rejects)} malformed of {len(log.lines)}")


if __name__ == "__main__":
    check_server_roundtrip()
    check_generator_against_parse()
