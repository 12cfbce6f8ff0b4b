"""Seeded input generator with ground truth.

Log lines use ``driver_queries.SYNTH_FORMAT`` with the field mix of the
registry's synthetic lines (about 10% ``-`` user, about 8% ``-`` bytes,
about 1% non-numeric status).  Every line is unique: its request path
carries the file's sequence number and the line's index, which is also
what the live-tail workload reads its due time back from.

``expected`` holds the typed tuple grower's cast rules give each valid
line, in the order and encoding the fake native server decodes them:
``-`` becomes ``""`` and then the zero value, DateTime is epoch seconds
and Float32 is rounded to single precision.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import struct
from dataclasses import dataclass, field

# scheme column -> ClickHouse type, in SYNTH_CONFIG's column order
COLUMNS = (
    ("remote_addr", "String"),
    ("remote_user", "String"),
    ("time_local", "DateTime"),
    ("request", "String"),
    ("status", "UInt16"),
    ("bytes_sent", "UInt32"),
    ("request_time", "Float32"),
    ("request_method", "String"),
)
TABLE = "logs.access_log"

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_PATHS = ("view", "click", "search", "cart", "purchase", "signup", "api",
          "static", "login", "error")
_PATH_WEIGHTS = (30, 20, 12, 8, 5, 3, 10, 8, 3, 1)
_STATUSES = (200, 304, 404, 301, 302, 500, 502, 403)
_STATUS_WEIGHTS = (76, 8, 6, 3, 3, 2, 1, 1)
_METHODS = ("GET", "POST", "HEAD")
_METHOD_WEIGHTS = (85, 13, 2)
_EPOCH0 = 1_717_200_000  # 2024-06-01 00:00:00 UTC


def f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


def _time_local(epoch: int) -> str:
    t = dt.datetime.fromtimestamp(epoch, tz=dt.timezone.utc)
    return (f"{t.day:02d}/{_MONTHS[t.month - 1]}/{t.year}:"
            f"{t.hour:02d}:{t.minute:02d}:{t.second:02d} +0000")


@dataclass
class LogFile:
    seq: int
    lines: list[str]
    expected: list[tuple]  # typed tuples of the valid lines
    malformed: list[str]  # lines grower drops to dead-letter


@dataclass
class LogGenerator:
    """Renders access-log files from one seed.  Client, user and path
    pools are fixed per seed, so cardinalities stay realistic across
    files (the LZ4 ratio depends on them)."""

    seed: int
    lines_per_sec: int = 5000
    _rng: random.Random = field(init=False)

    def __post_init__(self) -> None:
        self._rng = rng = random.Random(self.seed)
        self._clients = [
            f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
            for _ in range(3000)
        ]
        self._users = [f"u{rng.randrange(10**6)}" for _ in range(800)]
        self._clock = _EPOCH0 + rng.randrange(86400)

    def file(self, seq: int, n_lines: int) -> LogFile:
        rng = self._rng
        clients, users = self._clients, self._users
        paths = rng.choices(_PATHS, _PATH_WEIGHTS, k=n_lines)
        statuses = rng.choices(_STATUSES, _STATUS_WEIGHTS, k=n_lines)
        methods = rng.choices(_METHODS, _METHOD_WEIGHTS, k=n_lines)
        lines, expected, malformed = [], [], []
        t_str_cache: dict[int, str] = {}
        for i in range(n_lines):
            epoch = self._clock + i // self.lines_per_sec
            tl = t_str_cache.get(epoch)
            if tl is None:
                tl = t_str_cache[epoch] = _time_local(epoch)
            addr = clients[min(int(rng.paretovariate(1.2)) - 1, 2999)]
            user = "-" if rng.random() < 0.10 else rng.choice(users)
            method = methods[i]
            request = f"{method} /{paths[i]}/{seq}/{i} HTTP/1.1"
            bad_status = rng.random() < 0.01
            status = "ERR" if bad_status else str(statuses[i])
            if rng.random() < 0.08:
                nbytes = "-"
            else:
                nbytes = str(int(rng.lognormvariate(7.5, 1.6)))
            rt = f"{rng.expovariate(12.0):.3f}"
            line = (f'{addr} - {user} [{tl}] "{request}" '
                    f'{status} {nbytes} {rt} "{method}"')
            lines.append(line)
            if bad_status:
                malformed.append(line)
                continue
            expected.append((
                addr,
                "" if user == "-" else user,
                epoch,
                request,
                int(status),
                0 if nbytes == "-" else int(nbytes),
                f32(float(rt)),
                method,
            ))
        self._clock += -(-n_lines // self.lines_per_sec)
        return LogFile(seq, lines, expected, malformed)


def stage(log: LogFile, staging_dir: str, target_dir: str) -> str:
    """Write a file under a temporary name, then rename it into the
    watched directory, so the file source never sees a partial file."""
    name = f"access-{log.seq:06d}.log"
    tmp = os.path.join(staging_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(log.lines))
        f.write("\n")
    dst = os.path.join(target_dir, name)
    os.rename(tmp, dst)
    return dst


def line_seq(request: str) -> int:
    """The file sequence number a generated request path carries."""
    return int(request.split("/", 3)[2])


# --- registry tables ------------------------------------------------------

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_registry_tables(seed: int, out_dir: str, n_events: int = 5000,
                          n_docs: int = 300) -> None:
    """``events`` and ``documents`` parquet tables with the schema and
    value ranges of the sf0.01 testdata, from ``seed``.  About one
    document in eight is a light edit of an earlier one, so the dedup
    rows find near-duplicate pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out_dir, exist_ok=True)
    t0 = 1_704_067_200_000_000  # 2024-01-01 in microseconds
    span = 30 * 86400 * 1_000_000
    ts = sorted(t0 + rng.randrange(span) for _ in range(n_events))
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(n_events)],
                            pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.expovariate(1 / 50.0), 2) + 0.01
                  for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        if i > 8 and rng.random() < 0.125:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
