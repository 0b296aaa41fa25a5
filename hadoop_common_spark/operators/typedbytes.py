"""Typed-bytes framing for the external-command pipe — Hadoop Streaming's
binary record protocol.

Reference: TOOLS/hadoop-streaming/.../typedbytes/TypedBytesOutput.java /
TypedBytesInput.java (1-byte type code + big-endian payload per value;
type codes: 0 bytes, 1 byte, 2 bool, 3 int, 4 long, 5 float, 6 double,
7 UTF-8 string, 8 vector, 9 list w/ 0xFF terminator, 10 map), selected by
``-io typedbytes`` via ST/io/IdentifierResolver.java:33. Unlike the text
framing (``pipe_lines``), typed-bytes is binary-safe: tabs, newlines, and
raw bytes survive, and numbers keep their types across the pipe.

Spark-first shape: the child process forks ONCE PER PARTITION (the
reference forks once per task — same granularity); rows stream through
the pipe in both directions concurrently (a writer thread feeds stdin
while the partition iterator consumes stdout), so no task ever buffers a
partition. This is deliberate `mapPartitions` territory — the external
process IS the point, there is no relational equivalent to fork.
"""

from __future__ import annotations

import io
import struct
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# type codes (TypedBytesWritable wire format)
_BYTES, _BYTE, _BOOL, _INT, _LONG, _FLOAT, _DOUBLE, _STRING = range(8)
_VECTOR, _LIST, _MAP = 8, 9, 10
_LIST_END = 0xFF
# application-range code (the reference reserves 50-200 for apps,
# TypedBytesInput.java readType) marking SQL NULL: without it a null
# field would ship as empty BYTES and come back b'' instead of null
_NULL = 50


def tb_encode(value: Any, out: io.BytesIO) -> None:
    """Encode one value in typed-bytes wire format (TypedBytesOutput)."""
    if value is None:
        out.write(struct.pack(">B", _NULL))
    elif isinstance(value, bool):
        out.write(struct.pack(">B?", _BOOL, value))
    elif isinstance(value, int):
        if -(2**31) <= value < 2**31:
            out.write(struct.pack(">Bi", _INT, value))
        else:
            out.write(struct.pack(">Bq", _LONG, value))
    elif isinstance(value, float):
        out.write(struct.pack(">Bd", _DOUBLE, value))
    elif isinstance(value, str):
        b = value.encode("utf-8")
        out.write(struct.pack(">Bi", _STRING, len(b)))
        out.write(b)
    elif isinstance(value, (bytes, bytearray)):
        out.write(struct.pack(">Bi", _BYTES, len(value)))
        out.write(bytes(value))
    elif isinstance(value, (list, tuple)):
        out.write(struct.pack(">Bi", _VECTOR, len(value)))
        for v in value:
            tb_encode(v, out)
    elif isinstance(value, dict):
        out.write(struct.pack(">Bi", _MAP, len(value)))
        for k, v in value.items():
            tb_encode(k, out)
            tb_encode(v, out)
    else:
        raise TypeError(f"typed-bytes cannot encode {type(value).__name__}")


def tb_decode(stream: io.BufferedIOBase) -> Any:
    """Decode one typed-bytes value; raises EOFError at end of stream."""
    code_b = stream.read(1)
    if not code_b:
        raise EOFError
    code = code_b[0]
    if code == _NULL:
        return None
    if code == _BYTES:
        (n,) = struct.unpack(">i", stream.read(4))
        return stream.read(n)
    if code == _BYTE:
        return struct.unpack(">b", stream.read(1))[0]
    if code == _BOOL:
        return struct.unpack(">?", stream.read(1))[0]
    if code == _INT:
        return struct.unpack(">i", stream.read(4))[0]
    if code == _LONG:
        return struct.unpack(">q", stream.read(8))[0]
    if code == _FLOAT:
        return struct.unpack(">f", stream.read(4))[0]
    if code == _DOUBLE:
        return struct.unpack(">d", stream.read(8))[0]
    if code == _STRING:
        (n,) = struct.unpack(">i", stream.read(4))
        return stream.read(n).decode("utf-8")
    if code == _VECTOR:
        (n,) = struct.unpack(">i", stream.read(4))
        return [tb_decode(stream) for _ in range(n)]
    if code == _LIST:
        items = []
        while True:
            probe = stream.peek(1)[:1] if hasattr(stream, "peek") else b""
            if probe and probe[0] == _LIST_END:
                stream.read(1)
                return items
            if not probe:  # non-peekable stream: read and check
                nxt = stream.read(1)
                if not nxt or nxt[0] == _LIST_END:
                    return items
                stream = _Pushback(nxt, stream)
            items.append(tb_decode(stream))
    if code == _MAP:
        (n,) = struct.unpack(">i", stream.read(4))
        return {tb_decode(stream): tb_decode(stream) for _ in range(n)}
    raise ValueError(f"unknown typed-bytes code {code}")


class _Pushback(io.RawIOBase):
    """One-byte pushback wrapper for non-peekable streams."""

    def __init__(self, head: bytes, rest):
        self._head, self._rest = head, rest

    def read(self, n=-1):
        if self._head:
            h, self._head = self._head, b""
            if n == 1 or n == len(h):
                return h
            return h + self._rest.read(-1 if n < 0 else n - len(h))
        return self._rest.read(n)


def _pipe_partitions(
    command: list[str],
    encode_row: Callable[[Any], bytes],
    decode: Callable[[io.BufferedIOBase], Iterator[tuple]],
    feed_failed: str,
) -> Callable[[Iterator], Iterator[tuple]]:
    """The per-partition runner both binary framings share: fork
    ``command`` once, feed ``encode_row(row)`` bytes to its stdin from a
    writer thread while ``decode(stdout)`` yields output rows, then
    surface a feed error (as ``"<feed_failed> <command>"``) or a non-zero
    exit."""

    def run_partition(rows: Iterator) -> Iterator[tuple]:
        import subprocess
        import threading

        proc = subprocess.Popen(
            command, stdin=subprocess.PIPE, stdout=subprocess.PIPE, bufsize=1 << 16
        )
        feed_error: list[BaseException] = []

        def feed():
            # stdin MUST close on every path: a row the encoder can't
            # frame (unsupported type) would otherwise leave the child
            # waiting for EOF and hang the task forever with the real
            # error swallowed in this thread.
            try:
                for row in rows:
                    proc.stdin.write(encode_row(row))
            except BrokenPipeError:
                pass
            except BaseException as e:  # surfaced after the drain loop
                feed_error.append(e)
            finally:
                try:
                    proc.stdin.close()
                except BrokenPipeError:
                    pass

        writer = threading.Thread(target=feed, daemon=True)
        writer.start()
        yield from decode(proc.stdout)
        writer.join()
        rc = proc.wait()
        if feed_error:
            raise RuntimeError(f"{feed_failed} {command!r}") from feed_error[0]
        if rc != 0:
            raise RuntimeError(f"piped command {command!r} exited {rc}")

    return run_partition


def pipe_raw_bytes(
    df: DataFrame,
    command: list[str],
    key_col: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """PipeMapper with ``-io rawbytes`` — the third Streaming framing
    (ST/io/RawBytesInputWriter.java:1-60 / RawBytesOutputReader.java):
    each record crosses the pipe as two length-prefixed byte blobs,
    4-byte big-endian length + raw key bytes, then length + raw value
    bytes. No type codes, no escaping — binary-safe like typed-bytes but
    with zero per-value framing beyond the lengths (the cheapest binary
    protocol; TestRawBytesStreaming is the reference test analog).

    ``key_col``/``value_col`` default to the DataFrame's first two
    columns. BINARY columns pass through; STRING columns are UTF-8
    encoded (the reference converts Writables via their raw
    serialization). Output rows are ``(key binary, value binary)``.

    Same fork-per-partition / concurrent feed-drain shape as
    :func:`pipe_typed_bytes`."""
    spark = df.sparkSession
    if not (key_col and value_col) and len(df.columns) < 2:
        raise ValueError(
            f"pipe_raw_bytes needs a key and a value column; the DataFrame "
            f"has only {df.columns} — pass key_col/value_col explicitly"
        )
    kc = key_col or df.columns[0]
    vc = value_col or df.columns[1]

    def to_bytes(v: Any) -> bytes:
        if v is None:
            return b""
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        # bytes(int) would silently yield that many ZERO bytes — corrupt
        # framing, no error; reject non-bytes/str columns up front
        raise TypeError(
            f"rawbytes framing needs BINARY or STRING columns, got {type(v).__name__}"
        )

    def encode_row(row) -> bytes:
        k, v = to_bytes(row[kc]), to_bytes(row[vc])
        return struct.pack(">i", len(k)) + k + struct.pack(">i", len(v)) + v

    def decode(out) -> Iterator[tuple]:
        def read_blob() -> bytes | None:
            hdr = out.read(4)
            if not hdr:
                return None
            if len(hdr) < 4:
                raise EOFError(f"truncated rawbytes length prefix: {hdr!r}")
            (n,) = struct.unpack(">i", hdr)
            if n < 0:
                # a corrupt/negative length would make read(n<0) slurp the
                # rest of the stream into one garbage blob — fail loudly
                raise ValueError(f"invalid rawbytes length prefix: {n}")
            blob = out.read(n)
            if len(blob) < n:
                raise EOFError(f"truncated rawbytes blob: want {n}, got {len(blob)}")
            return blob

        while True:
            k = read_blob()
            if k is None:
                return
            v = read_blob()
            if v is None:
                raise EOFError("rawbytes stream ended mid-record (key without value)")
            yield (bytearray(k), bytearray(v))

    run_partition = _pipe_partitions(
        command, encode_row, decode, "rawbytes framing failed feeding"
    )
    out_schema = T.StructType(
        [T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType())]
    )
    return spark.createDataFrame(df.rdd.mapPartitions(run_partition), out_schema)


def pipe_typed_bytes(
    df: DataFrame,
    command: list[str],
    out_schema: T.StructType,
) -> DataFrame:
    """PipeMapper with ``-io typedbytes``: each input row crosses the pipe
    as one typed-bytes VECTOR of its field values; each vector the child
    writes back becomes one output row (shaped by ``out_schema``).

    ``command`` is argv (no shell). The child must speak typed-bytes on
    stdin/stdout — ``examples/tb_identity.py`` style.
    """
    spark = df.sparkSession
    field_names = [f.name for f in out_schema.fields]

    def encode_row(row) -> bytes:
        buf = io.BytesIO()
        tb_encode(list(row), buf)
        return buf.getvalue()

    def decode(stdout) -> Iterator[tuple]:
        out = io.BufferedReader(stdout.raw if hasattr(stdout, "raw") else stdout)
        while True:
            try:
                vec = tb_decode(out)
            except EOFError:
                return
            yield tuple(vec)

    run_partition = _pipe_partitions(
        command, encode_row, decode, "typed-bytes encode failed feeding"
    )
    assert field_names  # typed-bytes output is shaped by out_schema
    out_rdd = df.rdd.mapPartitions(run_partition)
    return spark.createDataFrame(out_rdd, schema=out_schema)
