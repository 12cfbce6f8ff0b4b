"""A fake ClickHouse native-protocol server owned by the benchmark.

While the benchmark's timed window is open the server does as little
Python work as it can, so it takes little interpreter time from the
program's driver: it answers the handshake, sends each INSERT's sample
block, reads the LZ4 frames of every Data block and stores them raw with
their receive time.  ``decode_one()``, called after the window, verifies
each frame's checksum and decodes the blocks through ``chnative``'s public
``read_frame``/``decode_block``.

A compressed block's end is found without decompressing it: the client
splits a block body into frames of ``MAX_FRAME_DATA`` bytes, so a shorter
frame ends the block; after a full-size frame the server peeks for the
next packet's header.  ``decode_one()`` fails loudly if that ever misreads
the stream.  Uncompressed connections are decoded as they arrive.
"""

from __future__ import annotations

import socket
import struct
import threading
import time
from dataclasses import dataclass, field

from grower_spark.sinks import chnative as ch

REVISION = ch.CLIENT_REVISION
_METHODS = (ch.METHOD_LZ4, ch.METHOD_NONE, ch.METHOD_ZSTD)
_SMALL_BLOCK = 64  # bytes; blocks this small are decoded on arrival


@dataclass
class Block:
    recv_time: float
    frames: list[bytes] = field(default_factory=list)  # raw, checksummed
    decoded: list | None = None  # set directly for uncompressed blocks

    @property
    def wire_bytes(self) -> int:
        return sum(len(f) for f in self.frames)

    @property
    def raw_bytes(self) -> int:
        return sum(struct.unpack_from("<I", f, 21)[0] for f in self.frames)


class FakeNativeServer:
    """Accepts native-protocol INSERTs into one table whose columns are
    ``columns`` = [(name, ClickHouse type)]."""

    def __init__(self, columns) -> None:
        self.columns = list(columns)
        self.blocks: list[Block] = []
        self.connections = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []
        self._conns: list[socket.socket] = []
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self.port = self._sock.getsockname()[1]
        self._closing = False
        self._acceptor = threading.Thread(target=self._serve, daemon=True)
        self._acceptor.start()

    def close(self) -> None:
        self._closing = True
        try:
            self._sock.shutdown(socket.SHUT_RDWR)  # wakes the blocked accept()
        except OSError:
            pass
        self._sock.close()
        self._acceptor.join(5)
        with self._lock:
            threads, conns = list(self._threads), list(self._conns)
        for c in conns:
            try:
                c.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        for t in threads:
            t.join(5)

    def reset(self) -> None:
        """Forget the blocks received so far (connections stay open)."""
        with self._lock:
            self.blocks = []

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            with self._lock:
                self.connections += 1
                t = threading.Thread(target=self._handle, daemon=True,
                                     args=(conn, self.connections))
                self._threads = [x for x in self._threads if x.is_alive()]
                self._threads.append(t)
                self._conns = [c for c in self._conns if c.fileno() != -1]
                self._conns.append(conn)
            t.start()

    # -- protocol -----------------------------------------------------------

    def _handle(self, conn: socket.socket, conn_id: int) -> None:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        r = _PeekReader(conn)
        try:
            if r.varint() != ch.CLIENT_HELLO:
                raise ch.ProtocolError("expected client Hello")
            r.string(); r.varint(); r.varint()  # name, major, minor
            client_rev = r.varint()
            r.string(); r.string(); r.string()  # database, user, password
            rev = min(REVISION, client_rev)
            conn.sendall(
                ch.write_varint(ch.SERVER_HELLO) + ch.write_string("FakeHouse")
                + ch.write_varint(24) + ch.write_varint(3)
                + ch.write_varint(REVISION) + ch.write_string("UTC")
                + ch.write_string("fake") + ch.write_varint(0)
            )
            while True:
                try:
                    code = r.varint()
                except ch.ProtocolError:
                    return  # client closed between queries
                if code == ch.CLIENT_PING:
                    conn.sendall(ch.write_varint(ch.SERVER_PONG))
                    continue
                if code != ch.CLIENT_QUERY:
                    raise ch.ProtocolError(f"unexpected client packet {code}")
                compressed, query = self._read_query(r, rev)
                if r.varint() != ch.CLIENT_DATA:
                    raise ch.ProtocolError("expected the external-tables block")
                self._read_block(r, rev, compressed)
                if not query.startswith("INSERT"):
                    conn.sendall(ch.write_varint(ch.SERVER_END_OF_STREAM))
                    continue
                sample = ch.encode_block(
                    [(n, t, []) for n, t in self.columns], rev)
                conn.sendall(
                    ch.write_varint(ch.SERVER_DATA) + ch.write_string("")
                    + (ch.compress_stream(sample) if compressed else sample)
                )
                while True:
                    if r.varint() != ch.CLIENT_DATA:
                        raise ch.ProtocolError("expected a Data packet")
                    if self._read_block(r, rev, compressed, keep=True):
                        break
                conn.sendall(ch.write_varint(ch.SERVER_END_OF_STREAM))
        except Exception as exc:  # a broken stream fails the run's check
            if not self._closing:
                with self._lock:
                    self.errors.append(f"conn {conn_id}: {exc!r}")
        finally:
            conn.close()

    @staticmethod
    def _read_query(r: ch.Reader, rev: int) -> tuple[bool, str]:
        r.string()  # query id
        if rev >= ch.REV_CLIENT_INFO:
            r.read(1)
            r.string(); r.string(); r.string()
            r.read(1)
            r.string(); r.string(); r.string()
            r.varint(); r.varint(); r.varint()
            if rev >= ch.REV_QUOTA_KEY:
                r.string()
            if rev >= ch.REV_VERSION_PATCH:
                r.varint()
        while r.string():  # settings: name, flags, value; "" ends them
            r.varint()
            r.string()
        r.varint()  # stage
        compressed = r.varint() == ch.COMPRESSION_ENABLED
        return compressed, r.string()

    def _read_block(self, r: "_PeekReader", rev: int, compressed: bool,
                    keep: bool = False) -> bool:
        """Read one Data block (after its packet code); True if empty."""
        r.string()  # temporary table name
        if not compressed:
            block = ch.decode_block(r, rev)
            if block and keep:
                self._store(Block(time.time(), decoded=block))
            return not block
        frames = []
        while True:
            head = r.read(25)
            _, comp_size, data_size = struct.unpack_from("<BII", head, 16)
            frames.append(head + r.read(comp_size - 9))
            if data_size < ch.MAX_FRAME_DATA or self._packet_next(r):
                break
        blk = Block(time.time(), frames)
        if len(frames) == 1 and blk.raw_bytes <= _SMALL_BLOCK:
            blk.decoded = _decode_frames(frames, rev)
            if not blk.decoded:
                return True
        if keep:
            self._store(blk)
        return False

    @staticmethod
    def _packet_next(r: "_PeekReader") -> bool:
        """After a full-size frame: does a new Data packet follow (code,
        empty table name, then a frame header) rather than another frame
        of the same block?"""
        b = r.peek(19)
        return b[0] == ch.CLIENT_DATA and b[1] == 0 and b[18] in _METHODS

    def _store(self, blk: Block) -> None:
        with self._lock:
            self.blocks.append(blk)

    # -- after the timed window ----------------------------------------------

    def decode_one(self, blk: Block, revision: int = REVISION) -> list:
        """Decode a stored block after the timed window; raises
        ``ProtocolError`` on a bad checksum or a desynced stream."""
        if blk.decoded is not None:
            return blk.decoded
        return _decode_frames(blk.frames, revision)


class _PeekReader(ch.Reader):
    def peek(self, n: int) -> bytes:
        self._fill(n)
        return bytes(self._buf[self._pos:self._pos + n])


def _decode_frames(frames: list[bytes], revision: int) -> list:
    cr = ch.CompressedBlockReader(ch.Reader(data=b"".join(frames)))
    block = ch.decode_block(cr, revision)
    if cr.leftover():
        raise ch.ProtocolError(f"{cr.leftover()} bytes left after a block")
    return block


def block_rows(block: list) -> list[tuple]:
    """Decoded block [(name, type, values)] -> row tuples."""
    return list(zip(*(values for _, _, values in block)))
