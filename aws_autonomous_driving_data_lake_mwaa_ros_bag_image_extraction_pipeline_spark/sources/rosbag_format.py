"""Pure-Python ROS bag 2.0 codec (S4/S5 genuine): record parser, message
(de)serializer driven by the embedded message definitions, and a writer for
fixtures/tests.

Implements the public bag container format (wiki.ros.org/Bags/Format/2.0 —
the same format the reference consumes via ``rosbag.Bag`` in
bag_to_csv.py:74-136 and ``importRosbag`` in test.py:22-25):

- a version line ``#ROSBAG V2.0\\n`` followed by records;
- each record = ``<u32 header_len><header><u32 data_len><data>`` where the
  header is a sequence of ``<u32 field_len>name=value`` fields;
- record types by ``op``: bag header (0x03), chunk (0x05, compression
  none/bz2/lz4), connection (0x07), message data (0x02), index data (0x04),
  chunk info (0x06);
- message bytes deserialize against the *connection's own*
  ``message_definition`` text (the gendeps-concatenated .msg source that
  every bag carries), so any topic type decodes without a type registry:
  little-endian primitives, ``u32 len``-prefixed strings and variable
  arrays, fixed arrays inline, time/duration as two u32/i32.

Decoded fields flatten to dotted names (``pose.position.x``,
``orientation_covariance.0``) — exactly the reference's per-topic CSV
columns (bag_to_csv.py:114-136 stringifies ``name: value`` lines).

Scale posture: each bag is opened by path and decoded inside one task
(``open_bag`` + ``decode_bag``, driven by sources/frames_source.py); the
topic predicate skips message records *before* deserialization (only the
8-byte record header is read), so an image-heavy bag scanned for /imu
never touches the pixel bytes.
"""

from __future__ import annotations

import base64
import bz2
import os
import struct
from collections.abc import Callable, Iterator
from dataclasses import dataclass

ROSBAG_MAGIC = b"#ROSBAG V2.0\n"

OP_MSG = 0x02
OP_BAG_HEADER = 0x03
OP_INDEX = 0x04
OP_CHUNK = 0x05
OP_CHUNK_INFO = 0x06
OP_CONNECTION = 0x07

_U32 = struct.Struct("<I")
_TIME = struct.Struct("<II")

# ---------------------------------------------------------------------------
# record layer
# ---------------------------------------------------------------------------


def _parse_header(buf: bytes, start: int, end: int) -> dict[str, bytes]:
    fields: dict[str, bytes] = {}
    pos = start
    while pos < end:
        (flen,) = _U32.unpack_from(buf, pos)
        pos += 4
        eq = buf.index(b"=", pos, pos + flen)
        fields[buf[pos:eq].decode("ascii")] = bytes(buf[eq + 1 : pos + flen])
        pos += flen
    return fields


def iter_records(
    buf: bytes, pos: int = 0, end: int | None = None
) -> Iterator[tuple[dict[str, bytes], bytes, int]]:
    """Yield (header_fields, data, record_start_pos) for each record in
    ``buf[pos:end]``. The start position is what chunk-info records key
    their ``chunk_pos`` on."""
    if end is None:
        end = len(buf)
    while pos < end:
        start = pos
        (hlen,) = _U32.unpack_from(buf, pos)
        if pos + 4 + hlen > end:  # truncated mid-header: fail loudly so
            raise ValueError(  # the quarantine boundary records it —
                f"truncated bag record header at {start}"  # a silent
            )  # partial decode would commit a half-uploaded bag as final
        hdr = _parse_header(buf, pos + 4, pos + 4 + hlen)
        pos += 4 + hlen
        (dlen,) = _U32.unpack_from(buf, pos)
        if pos + 4 + dlen > end:
            raise ValueError(f"truncated bag record data at {start}")
        data = buf[pos + 4 : pos + 4 + dlen]
        pos += 4 + dlen
        yield hdr, data, start


def _decompress_chunk(hdr: dict[str, bytes], data: bytes) -> bytes:
    """Decompress one chunk, BOUNDED by the header's declared
    uncompressed ``size``: a crafted/corrupt chunk can otherwise expand
    KBs into GBs (a decompression bomb that burns CPU/memory for hours
    in the pure-Python LZ4 loop, which the quarantine boundary — catching
    exceptions only — never sees). Output exceeding or missing the
    declared size raises, so the bag quarantines instead."""
    comp = hdr.get("compression", b"none").decode("ascii")
    declared = (
        _U32.unpack(hdr["size"])[0] if "size" in hdr else None
    )
    if comp == "none":
        return data
    cap = declared if declared is not None else (1 << 30)
    if comp == "bz2":
        dec = bz2.BZ2Decompressor()
        out = dec.decompress(data, cap + 1)
        if len(out) > cap:
            raise ValueError(
                f"bz2 chunk expands past declared size {declared}"
            )
        result = out
    elif comp == "lz4":
        try:
            import lz4.frame  # type: ignore[import-not-found]

            result = lz4.frame.decompress(data)
        except ImportError:
            result = lz4_frame_decompress(data, max_out=cap)
        if len(result) > cap:
            raise ValueError(
                f"lz4 chunk expands past declared size {declared}"
            )
    else:
        raise ValueError(f"unknown chunk compression {comp!r}")
    if declared is not None and len(result) != declared:
        raise ValueError(
            f"chunk decompressed to {len(result)} bytes, header declares "
            f"{declared} — corrupt chunk"
        )
    return result


# ---------------------------------------------------------------------------
# pure-Python LZ4 (rosbag's default chunk compression is roslz4). Public
# formats: block spec + legacy frame (magic 0x184C2102, what roslz4 writes)
# and the standard frame (magic 0x184D2204). Used only when no lz4 lib is
# installed; the writer emits literal-only blocks (valid LZ4, ratio 1).
# ---------------------------------------------------------------------------

_LZ4_LEGACY_MAGIC = 0x184C2102
_LZ4_FRAME_MAGIC = 0x184D2204


def lz4_block_decompress(src: bytes, max_out: int | None = None) -> bytes:
    """Decompress one raw LZ4 block (token / literals / offset+match).
    ``max_out`` caps the output INSIDE the copy loops — the bomb shape is
    a tiny block whose match sequences each expand ~255x, so checking
    only after the loop would do the work before failing."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i : i + lit]
        i += lit
        if max_out is not None and len(out) > max_out:
            raise ValueError("LZ4 block exceeds declared output size")
        if i >= n:  # last sequence: literals only
            break
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block (zero match offset)")
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block (offset past start)")
        if max_out is not None and len(out) + mlen > max_out:
            raise ValueError("LZ4 block exceeds declared output size")
        for _ in range(mlen):  # byte-wise: matches may overlap themselves
            out.append(out[start])
            start += 1
    return bytes(out)


def lz4_frame_decompress(data: bytes, max_out: int | None = None) -> bytes:
    """Decompress an LZ4 legacy frame (roslz4) or standard frame.
    ``max_out`` bounds the total output (decompression-bomb guard)."""
    (magic,) = _U32.unpack_from(data, 0)
    out = bytearray()
    if magic == _LZ4_LEGACY_MAGIC:
        # magic, then bare blocks: <u32 compressed_len><block> until EOF or
        # a next magic (legacy frames can concatenate)
        pos = 4
        while pos + 4 <= len(data):
            (blen,) = _U32.unpack_from(data, pos)
            if blen == _LZ4_LEGACY_MAGIC:
                pos += 4
                continue
            pos += 4
            rem = None if max_out is None else max_out + 1 - len(out)
            out += lz4_block_decompress(data[pos : pos + blen], max_out=rem)
            pos += blen
        return bytes(out)
    if magic == _LZ4_FRAME_MAGIC:
        flg = data[4]
        pos = 6  # magic + FLG + BD
        if flg & 0x08:  # content size present
            pos += 8
        if flg & 0x01:  # dict id
            pos += 4
        pos += 1  # header checksum
        block_checksums = bool(flg & 0x10)
        while True:
            (bsize,) = _U32.unpack_from(data, pos)
            pos += 4
            if bsize == 0:  # EndMark
                break
            uncompressed = bool(bsize & 0x80000000)
            bsize &= 0x7FFFFFFF
            block = data[pos : pos + bsize]
            pos += bsize
            if block_checksums:
                pos += 4
            rem = None if max_out is None else max_out + 1 - len(out)
            out += block if uncompressed else lz4_block_decompress(
                block, max_out=rem
            )
            if max_out is not None and len(out) > max_out:
                raise ValueError("LZ4 frame exceeds declared output size")
        return bytes(out)
    raise ValueError(f"not an LZ4 frame (magic {magic:#x})")


def lz4_frame_compress_stored(data: bytes, block_size: int = 1 << 22) -> bytes:
    """Emit a VALID legacy LZ4 frame with literal-only blocks (no matches —
    ratio 1). Lets the writer produce lz4-labeled bags any conformant
    reader (roslz4 included) accepts, without shipping a match searcher."""
    parts = [_U32.pack(_LZ4_LEGACY_MAGIC)]
    for i in range(0, max(len(data), 1), block_size):
        chunk = data[i : i + block_size]
        # ONE final sequence per block: token literal-length (15 → extension
        # bytes encode any length), literals, no match — only the last
        # sequence of a block may omit the match, so never split.
        body = bytearray()
        llen = len(chunk)
        if llen < 15:
            body.append(llen << 4)
        else:
            body.append(0xF0)
            rest = llen - 15
            while rest >= 255:
                body.append(255)
                rest -= 255
            body.append(rest)
        body += chunk
        parts.append(_U32.pack(len(body)))
        parts.append(bytes(body))
    return b"".join(parts)


# ---------------------------------------------------------------------------
# message definition parsing → (de)serializers
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[str, struct.Struct] = {
    "bool": struct.Struct("<B"),
    "int8": struct.Struct("<b"),
    "byte": struct.Struct("<b"),
    "uint8": struct.Struct("<B"),
    "char": struct.Struct("<B"),
    "int16": struct.Struct("<h"),
    "uint16": struct.Struct("<H"),
    "int32": struct.Struct("<i"),
    "uint32": struct.Struct("<I"),
    "int64": struct.Struct("<q"),
    "uint64": struct.Struct("<Q"),
    "float32": struct.Struct("<f"),
    "float64": struct.Struct("<d"),
}


@dataclass
class Field:
    type: str  # primitive name, 'string', 'time', 'duration', or msg type
    name: str
    array_len: int | None = None  # None = scalar, -1 = variable, n = fixed
    is_array: bool = False


def parse_definition(text: str) -> dict[str, list[Field]]:
    """gendeps-concatenated .msg text → {type_name: fields}.

    The root section has key ``''``; sub-message sections are introduced by
    separator lines of ``=`` and a ``MSG: pkg/Name`` header, registered
    under both the full and the short name (``Header`` ≡ std_msgs/Header).
    """
    types: dict[str, list[Field]] = {}
    section_name = ""
    fields: list[Field] = []
    for raw in text.splitlines() + ["=" * 3]:
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if set(line) == {"="}:  # section separator (also our sentinel)
            types[section_name] = fields
            if "/" in section_name:
                types[section_name.rsplit("/", 1)[1]] = fields
            section_name, fields = "", []
            continue
        if line.startswith("MSG:"):
            section_name = line.split(":", 1)[1].strip()
            continue
        if "=" in line:  # constant declaration
            continue
        type_str, name = line.split(None, 1)
        name = name.strip()
        array_len: int | None = None
        is_array = False
        if type_str.endswith("]"):
            base, _, dims = type_str.partition("[")
            is_array = True
            dims = dims[:-1]
            array_len = int(dims) if dims else -1
            type_str = base
        fields.append(Field(type_str, name, array_len, is_array))
    return types


def _resolve(types: dict[str, list[Field]], name: str) -> list[Field]:
    if name in types:
        return types[name]
    if "/" in name and name.rsplit("/", 1)[1] in types:
        return types[name.rsplit("/", 1)[1]]
    if name == "Header" and "std_msgs/Header" in types:
        return types["std_msgs/Header"]
    raise KeyError(f"message type {name!r} not in embedded definition")


def make_reader(
    types: dict[str, list[Field]],
) -> Callable[[bytes, int, str, dict], int]:
    """Compile the root definition into ``read(buf, off, prefix, out) -> off``.

    Flattening rules (reference CSV parity, bag_to_csv.py:114-136):
    nested messages prefix with ``name.``; ``time``/``duration`` expand to
    ``.secs``/``.nsecs``; fixed numeric arrays expand to ``name.0..n-1``;
    ``uint8[]`` blobs stay a single ``bytes`` value (base64'd only when
    stringified); other variable arrays nest as ``name.<i>``.
    """

    def read_fields(
        fields: list[Field], buf: bytes, off: int, prefix: str, out: dict
    ) -> int:
        for f in fields:
            key = prefix + f.name
            if f.is_array:
                if f.array_len == -1:
                    (n,) = _U32.unpack_from(buf, off)
                    off += 4
                else:
                    n = f.array_len
                if n > len(buf) - off:
                    # a corrupt/crafted count (e.g. 0xFFFFFFFF over an
                    # empty sub-message) would otherwise spin billions of
                    # zero-byte iterations without ever raising — every
                    # genuine element consumes >= 1 byte, so the count
                    # can never exceed the remaining buffer
                    raise ValueError(
                        f"corrupt bag: array count {n} exceeds "
                        f"{len(buf) - off} remaining bytes at field {key!r}"
                    )
                if f.type in ("uint8", "char", "byte", "int8"):
                    out[key] = bytes(buf[off : off + n])
                    off += n
                elif f.type in _PRIMITIVES:
                    st = _PRIMITIVES[f.type]
                    for i in range(n):
                        out[f"{key}.{i}"] = st.unpack_from(buf, off)[0]
                        off += st.size
                else:
                    sub = _resolve(types, f.type)
                    for i in range(n):
                        off = read_fields(sub, buf, off, f"{key}.{i}.", out)
            elif f.type in _PRIMITIVES:
                st = _PRIMITIVES[f.type]
                v = st.unpack_from(buf, off)[0]
                out[key] = bool(v) if f.type == "bool" else v
                off += st.size
            elif f.type == "string":
                (n,) = _U32.unpack_from(buf, off)
                out[key] = bytes(buf[off + 4 : off + 4 + n]).decode(
                    "utf-8", "replace"
                )
                off += 4 + n
            elif f.type in ("time", "duration"):
                secs, nsecs = _TIME.unpack_from(buf, off)
                out[f"{key}.secs"] = secs
                out[f"{key}.nsecs"] = nsecs
                off += 8
            else:
                off = read_fields(_resolve(types, f.type), buf, off, key + ".", out)
        return off

    root = types[""]
    return lambda buf, off, prefix, out: read_fields(root, buf, off, prefix, out)


def make_writer(
    types: dict[str, list[Field]],
) -> Callable[[dict[str, object]], bytes]:
    """Inverse of ``make_reader``: flat dotted dict → serialized bytes.

    Missing fields zero-fill (numeric 0, empty string/array) so fixtures can
    populate only the fields they care about.
    """

    def coerce(f: Field, v: object) -> object:
        if f.type in ("float32", "float64"):
            return float(v)
        if f.type == "bool":
            return str(v) in ("True", "true", "1")
        return int(v)

    def write_fields(
        fields: list[Field], flat: dict[str, object], prefix: str, out: list[bytes]
    ) -> None:
        for f in fields:
            key = prefix + f.name
            if f.is_array:
                if f.type in ("uint8", "char", "byte", "int8"):
                    blob = flat.get(key, b"")
                    if isinstance(blob, str):
                        blob = base64.b64decode(blob)
                    if f.array_len == -1:
                        out.append(_U32.pack(len(blob)))
                    out.append(bytes(blob))
                elif f.type in _PRIMITIVES:
                    st = _PRIMITIVES[f.type]
                    idx = []
                    i = 0
                    while f"{key}.{i}" in flat or (
                        f.array_len not in (None, -1) and i < f.array_len
                    ):
                        idx.append(coerce(f, flat.get(f"{key}.{i}", 0)))
                        i += 1
                    if f.array_len == -1:
                        out.append(_U32.pack(len(idx)))
                    out.extend(st.pack(v) for v in idx)
                else:
                    sub = _resolve(types, f.type)
                    n = 0
                    while any(k.startswith(f"{key}.{n}.") for k in flat):
                        n += 1
                    if f.array_len == -1:
                        out.append(_U32.pack(n))
                    for i in range(n):
                        write_fields(sub, flat, f"{key}.{i}.", out)
            elif f.type in _PRIMITIVES:
                out.append(_PRIMITIVES[f.type].pack(coerce(f, flat.get(key, 0))))
            elif f.type == "string":
                s = str(flat.get(key, "")).encode("utf-8")
                out.append(_U32.pack(len(s)) + s)
            elif f.type in ("time", "duration"):
                out.append(
                    _TIME.pack(
                        int(flat.get(f"{key}.secs", 0)),
                        int(flat.get(f"{key}.nsecs", 0)),
                    )
                )
            else:
                write_fields(_resolve(types, f.type), flat, key + ".", out)

    def write(flat: dict[str, object]) -> bytes:
        out: list[bytes] = []
        write_fields(types[""], flat, "", out)
        return b"".join(out)

    return write


# ---------------------------------------------------------------------------
# bag-level reading
# ---------------------------------------------------------------------------


@dataclass
class Connection:
    cid: int
    topic: str
    msg_type: str
    reader: Callable[[bytes, int, str, dict], int]


def read_messages(
    content: bytes, topics: set[str] | None = None
) -> Iterator[tuple[Connection, int, bytes]]:
    """Yield (connection, time_ns, raw_message_bytes) from bag bytes.

    Handles chunked (none/bz2/lz4) and unchunked layouts; connection
    records register lazily wherever they appear (inside chunks, or in the
    post-chunk index section). Messages on unrequested topics are skipped
    without deserialization.

    Topic pushdown uses the bag's own index: a cheap top-level pre-scan
    (which never decompresses chunk payloads) registers the index-section
    connection records and the per-chunk connection counts from chunk-info
    records; a chunk whose messages all belong to filtered-out connections
    is then skipped WITHOUT decompression. An image-heavy bag scanned for
    /imu never inflates the camera chunks — this is the same whole-chunk
    skip ``rosbag.Bag.read_messages(topics=…)`` performs with the C++
    index, and it's what makes topic pushdown real at 100 TB.
    """
    if not content.startswith(ROSBAG_MAGIC):
        raise ValueError("not a ROS bag 2.0 file (bad version magic)")
    conns: dict[int, Connection | None] = {}

    def register(hdr: dict[str, bytes], data: bytes) -> None:
        (cid,) = _U32.unpack_from(hdr["conn"], 0)
        if cid in conns:
            return
        inner = _parse_header(data, 0, len(data))
        topic = inner.get("topic", hdr.get("topic", b"")).decode()
        if topics is not None and topic not in topics:
            conns[cid] = None  # known, filtered out
            return
        defs = parse_definition(
            inner.get("message_definition", b"").decode("utf-8", "replace")
        )
        conns[cid] = Connection(
            cid, topic, inner.get("type", b"").decode(), make_reader(defs)
        )

    # Index pre-scan: top-level records only, chunk payloads untouched.
    chunk_counts: dict[int, dict[int, int]] = {}
    if topics is not None:
        for hdr, data, pos in iter_records(content, len(ROSBAG_MAGIC)):
            op = hdr["op"][0]
            if op == OP_CONNECTION:
                register(hdr, data)
            elif op == OP_CHUNK_INFO and "chunk_pos" in hdr:
                (cpos,) = struct.unpack_from("<Q", hdr["chunk_pos"], 0)
                (cnt,) = _U32.unpack_from(hdr["count"], 0)
                counts: dict[int, int] = {}
                off = 0
                for _ in range(cnt):
                    cid, n = struct.unpack_from("<II", data, off)
                    off += 8
                    counts[cid] = n
                chunk_counts[cpos] = counts

    def skippable(pos: int) -> bool:
        """True iff the chunk at ``pos`` provably holds no wanted message:
        its chunk-info lists only connections known to be filtered out. An
        unindexed chunk or an unknown cid forces the decompress path."""
        counts = chunk_counts.get(pos)
        if counts is None:
            return False
        return all(
            cid in conns and conns[cid] is None
            for cid, n in counts.items()
            if n > 0
        )

    def handle(hdr: dict[str, bytes], data: bytes, pos: int) -> Iterator:
        op = hdr["op"][0]
        if op == OP_CONNECTION:
            register(hdr, data)
        elif op == OP_MSG:
            (cid,) = _U32.unpack_from(hdr["conn"], 0)
            conn = conns.get(cid)
            if conn is None:
                return  # filtered (or malformed: message before connection)
            secs, nsecs = _TIME.unpack_from(hdr["time"], 0)
            yield conn, secs * 1_000_000_000 + nsecs, data
        elif op == OP_CHUNK:
            if skippable(pos):
                return
            inner = _decompress_chunk(hdr, data)
            for h2, d2, p2 in iter_records(inner):
                yield from handle(h2, d2, p2)
        # ops 0x03/0x04/0x06 (bag header, index, chunk info) need no replay

    for hdr, data, pos in iter_records(content, len(ROSBAG_MAGIC)):
        yield from handle(hdr, data, pos)


def stringify(value: object) -> str:
    """Deterministic payload rendering: floats via shortest-roundtrip repr,
    blobs as base64, everything else ``str``."""
    if isinstance(value, float):
        return repr(value)
    if isinstance(value, (bytes, bytearray)):
        return base64.b64encode(value).decode("ascii")
    return str(value)


def bag_id_from_path(path: str) -> str:
    """`x/y/bag0001.bag.tar.gz` → `bag0001` (the reference keys work units
    by bag file stem, engine.py)."""
    name = os.path.basename(path)
    return name.split(".bag")[0]


# ---------------------------------------------------------------------------
# bag-level writing (fixtures / round-trip tests)
# ---------------------------------------------------------------------------


def _hdr_bytes(fields: dict[str, bytes]) -> bytes:
    out = []
    for k, v in fields.items():
        f = k.encode("ascii") + b"=" + v
        out.append(_U32.pack(len(f)) + f)
    return b"".join(out)


def _record(fields: dict[str, bytes], data: bytes) -> bytes:
    h = _hdr_bytes(fields)
    return _U32.pack(len(h)) + h + _U32.pack(len(data)) + data


def write_bag(
    messages: list[tuple[str, str, str, int, dict[str, object]]],
    compression: str = "none",
    chunk_mode: str = "single",
) -> bytes:
    """Serialize (topic, msg_type, definition, time_ns, flat_fields) rows
    into a ROS bag 2.0 byte string: version line, bag header, chunks
    (optionally bz2) each followed by its index-data records, post-chunk
    connection records, and one chunk-info record per chunk — the layout
    ``rosbag record`` produces.

    ``chunk_mode="per_topic"`` packs each topic's messages into its own
    chunk (the shape a real recorder approximates over time as topics
    burst) — the layout that lets the reader's chunk-info skip drop whole
    camera chunks when scanning for telemetry topics.
    """
    if chunk_mode == "per_topic":
        order: list[str] = []
        by_topic: dict[str, list] = {}
        for m in messages:
            if m[0] not in by_topic:
                by_topic[m[0]] = []
                order.append(m[0])
            by_topic[m[0]].append(m)
        groups = [by_topic[t] for t in order]
    elif chunk_mode == "single":
        groups = [messages] if messages else []
    else:
        raise ValueError(f"unknown chunk_mode {chunk_mode!r}")

    conn_ids: dict[str, int] = {}
    conn_meta: dict[int, tuple[str, str, str]] = {}
    writers: dict[int, Callable[[dict[str, object]], bytes]] = {}

    pre = ROSBAG_MAGIC
    pos = len(pre) + len(_padded_bag_header(0, 0, 0))
    body: list[bytes] = []
    infos: list[tuple[int, int, int, dict[int, int]]] = []

    for group in groups:
        chunk_parts: list[bytes] = []
        index: dict[int, list[tuple[int, int]]] = {}
        for topic, msg_type, definition, t_ns, flat in group:
            if topic not in conn_ids:
                cid = conn_ids[topic] = len(conn_ids)
                conn_meta[cid] = (topic, msg_type, definition)
                writers[cid] = make_writer(parse_definition(definition))
                chunk_parts.append(
                    _connection_record(cid, topic, msg_type, definition)
                )
            cid = conn_ids[topic]
            secs, nsecs = divmod(t_ns, 1_000_000_000)
            offset = sum(len(p) for p in chunk_parts)
            chunk_parts.append(
                _record(
                    {
                        "op": bytes([OP_MSG]),
                        "conn": _U32.pack(cid),
                        "time": _TIME.pack(secs, nsecs),
                    },
                    writers[cid](flat),
                )
            )
            index.setdefault(cid, []).append((t_ns, offset))

        chunk_data = b"".join(chunk_parts)
        if compression == "bz2":
            payload = bz2.compress(chunk_data)
        elif compression == "lz4":
            payload = lz4_frame_compress_stored(chunk_data)
        elif compression == "none":
            payload = chunk_data
        else:
            raise ValueError(f"unsupported write compression {compression!r}")
        chunk_rec = _record(
            {
                "op": bytes([OP_CHUNK]),
                "compression": compression.encode(),
                "size": _U32.pack(len(chunk_data)),
            },
            payload,
        )
        chunk_pos = pos
        body.append(chunk_rec)
        pos += len(chunk_rec)
        for cid, entries in index.items():
            rec = _record(
                {
                    "op": bytes([OP_INDEX]),
                    "ver": _U32.pack(1),
                    "conn": _U32.pack(cid),
                    "count": _U32.pack(len(entries)),
                },
                b"".join(
                    _TIME.pack(*divmod(t, 1_000_000_000)) + _U32.pack(off)
                    for t, off in entries
                ),
            )
            body.append(rec)
            pos += len(rec)
        ns = [m[3] for m in group]
        infos.append(
            (
                chunk_pos,
                min(ns),
                max(ns),
                {cid: len(e) for cid, e in index.items()},
            )
        )

    index_pos = pos
    post: list[bytes] = []
    for cid, (topic, msg_type, definition) in conn_meta.items():
        post.append(_connection_record(cid, topic, msg_type, definition))
    for chunk_pos, start, end, counts in infos:
        post.append(
            _record(
                {
                    "op": bytes([OP_CHUNK_INFO]),
                    "ver": _U32.pack(1),
                    "chunk_pos": struct.pack("<Q", chunk_pos),
                    "start_time": _TIME.pack(*divmod(start, 1_000_000_000)),
                    "end_time": _TIME.pack(*divmod(end, 1_000_000_000)),
                    "count": _U32.pack(len(counts)),
                },
                b"".join(
                    _U32.pack(cid) + _U32.pack(n) for cid, n in counts.items()
                ),
            )
        )

    bag_header = _padded_bag_header(index_pos, len(conn_meta), len(infos))
    return pre + bag_header + b"".join(body) + b"".join(post)


def _bag_header_fields(index_pos: int, conn_count: int, chunk_count: int):
    return {
        "op": bytes([OP_BAG_HEADER]),
        "index_pos": struct.pack("<Q", index_pos),
        "conn_count": _U32.pack(conn_count),
        "chunk_count": _U32.pack(chunk_count),
    }


def _padded_bag_header(index_pos: int, conn_count: int, chunk_count: int) -> bytes:
    fields = _bag_header_fields(index_pos, conn_count, chunk_count)
    h = _hdr_bytes(fields)
    return _U32.pack(len(h)) + h + _U32.pack(4096) + b" " * 4096


# ---------------------------------------------------------------------------
# standard message definitions (public ROS common_msgs .msg sources, in the
# gendeps-concatenated form bags embed) — used by the fixture writer; the
# *parser* never consults these, it reads each connection's embedded text
# ---------------------------------------------------------------------------

_SEP = "=" * 80

HEADER_DEF = """uint32 seq
time stamp
string frame_id"""

_HEADER_SECTION = f"{_SEP}\nMSG: std_msgs/Header\n{HEADER_DEF}"
_VECTOR3_SECTION = f"{_SEP}\nMSG: geometry_msgs/Vector3\nfloat64 x\nfloat64 y\nfloat64 z"
_QUAT_SECTION = (
    f"{_SEP}\nMSG: geometry_msgs/Quaternion\nfloat64 x\nfloat64 y\nfloat64 z\nfloat64 w"
)
_POINT_SECTION = f"{_SEP}\nMSG: geometry_msgs/Point\nfloat64 x\nfloat64 y\nfloat64 z"

IMU_DEF = f"""Header header
geometry_msgs/Quaternion orientation
float64[9] orientation_covariance
geometry_msgs/Vector3 angular_velocity
float64[9] angular_velocity_covariance
geometry_msgs/Vector3 linear_acceleration
float64[9] linear_acceleration_covariance
{_HEADER_SECTION}
{_QUAT_SECTION}
{_VECTOR3_SECTION}"""

NAVSATFIX_DEF = f"""Header header
sensor_msgs/NavSatStatus status
float64 latitude
float64 longitude
float64 altitude
float64[9] position_covariance
uint8 position_covariance_type
{_HEADER_SECTION}
{_SEP}
MSG: sensor_msgs/NavSatStatus
int8 STATUS_NO_FIX=-1
int8 STATUS_FIX=0
int8 status
uint16 SERVICE_GPS=1
uint16 service"""

TIME_REFERENCE_DEF = f"""Header header
time time_ref
string source
{_HEADER_SECTION}"""

POSE_STAMPED_DEF = f"""Header header
geometry_msgs/Pose pose
{_HEADER_SECTION}
{_SEP}
MSG: geometry_msgs/Pose
geometry_msgs/Point position
geometry_msgs/Quaternion orientation
{_POINT_SECTION}
{_QUAT_SECTION}"""

TWIST_STAMPED_DEF = f"""Header header
geometry_msgs/Twist twist
{_HEADER_SECTION}
{_SEP}
MSG: geometry_msgs/Twist
geometry_msgs/Vector3 linear
geometry_msgs/Vector3 angular
{_VECTOR3_SECTION}"""

TRANSFORM_STAMPED_DEF = f"""Header header
string child_frame_id
geometry_msgs/Transform transform
{_HEADER_SECTION}
{_SEP}
MSG: geometry_msgs/Transform
geometry_msgs/Vector3 translation
geometry_msgs/Quaternion rotation
{_VECTOR3_SECTION}
{_QUAT_SECTION}"""

IMAGE_DEF = f"""Header header
uint32 height
uint32 width
string encoding
uint8 is_bigendian
uint32 step
uint8[] data
{_HEADER_SECTION}"""

TOPIC_TYPES: dict[str, tuple[str, str]] = {
    "/imu": ("sensor_msgs/Imu", IMU_DEF),
    "/gps": ("sensor_msgs/NavSatFix", NAVSATFIX_DEF),
    "/gps_time": ("sensor_msgs/TimeReference", TIME_REFERENCE_DEF),
    "/pose_ground_truth": ("geometry_msgs/PoseStamped", POSE_STAMPED_DEF),
    "/pose_localized": ("geometry_msgs/PoseStamped", POSE_STAMPED_DEF),
    "/pose_raw": ("geometry_msgs/PoseStamped", POSE_STAMPED_DEF),
    "/velocity_raw": ("geometry_msgs/TwistStamped", TWIST_STAMPED_DEF),
    "/tf": ("geometry_msgs/TransformStamped", TRANSFORM_STAMPED_DEF),
}

IMAGE_TOPIC_FMT = "/camera/{camera}/image_raw"


# ---------------------------------------------------------------------------
# bag-level decode: open by URI, unwrap, one pass to message + frame rows
# ---------------------------------------------------------------------------

GZIP_MAGIC = b"\x1f\x8b"
IMAGE_TYPE = "sensor_msgs/Image"
MESSAGE_COLUMNS = ["bag_id", "topic", "rosbagTimestamp", "seq", "payload"]
FRAME_COLUMNS = [
    "bag_id",
    "camera",
    "frame_index",
    "filename",
    "frame_time",
    "width",
    "height",
    "content",
]


def untar_bag(content: bytes) -> bytes:
    """S6: unwrap a ``.tar.gz``-packed bag; asserts exactly one ``.bag``
    member (engine.py:35-51 semantics — a tarball is one bag, never more)."""
    import io
    import tarfile

    with tarfile.open(fileobj=io.BytesIO(content), mode="r:gz") as tf:
        members = [m for m in tf.getmembers() if m.name.endswith(".bag")]
        if len(members) != 1:
            raise ValueError(
                f"expected exactly one .bag in archive, found {len(members)}"
            )
        f = tf.extractfile(members[0])
        assert f is not None
        return f.read()


def _maybe_unwrap(path: str, content: bytes) -> bytes:
    if content[:2] == GZIP_MAGIC:
        content = untar_bag(content)
    if not content.startswith(ROSBAG_MAGIC):
        raise ValueError(f"not a ROS bag 2.0 file at {path}")
    return content


def filesystem_of(path: str):
    """(pyarrow FileSystem, path inside it) for a path or URI (``file:/…``,
    ``s3://…``, a plain local path). ``binaryFile`` paths and ledger keys
    are not percent-encoded (``file:/a b.bag``), so a URI is quoted before
    pyarrow parses it."""
    from urllib.parse import quote, urlsplit

    from pyarrow import fs

    uri = quote(path, safe=":/") if urlsplit(path).scheme else path
    return fs.FileSystem.from_uri(uri)


def open_bag(path: str) -> bytes:
    """A bag's bytes by path or URI (see ``filesystem_of``), unwrapped and
    magic-checked. Read inside the task that decodes it, so the bytes never
    cross the JVM and no ``binaryFile`` row-size cap applies.
    ``open_input_file`` rather than ``open_input_stream``: the stream form
    gunzips ``*.gz`` by extension, which would hide the gzip magic from the
    unwrap."""
    filesystem, inner = filesystem_of(path)
    with filesystem.open_input_file(inner) as f:
        return _maybe_unwrap(path, f.readall())


def _frame_row(path: str, bag_id: str, topic: str, flat: dict) -> tuple:
    """A ``FRAME_COLUMNS`` row whose last cell holds the raw pixels: a
    read-only uint8 array shaped as ``png.decode`` returns it ((h,w,3)
    for ``rgb8``, (h,w) for ``mono8``), not PNG bytes."""
    import numpy as np
    import pandas as pd

    h, w = int(flat["height"]), int(flat["width"])
    enc = str(flat["encoding"])
    data = flat["data"]
    if enc == "rgb8":
        arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    elif enc == "mono8":
        arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w)
    else:
        raise ValueError(f"unsupported image encoding {enc!r} at {path}")
    segs = topic.strip("/").split("/")
    # '/camera/left/image_raw' -> 'left'; a single-segment topic
    # ('/image_raw', common on single-camera rigs) keys on that
    # segment instead of IndexError-quarantining the whole bag
    camera = segs[1] if len(segs) > 1 else segs[0]
    seq = int(flat.get("header.seq", 0))
    stamp_us = (
        int(flat.get("header.stamp.secs", 0)) * 1_000_000
        + int(flat.get("header.stamp.nsecs", 0)) // 1000
    )
    return (
        bag_id,
        camera,
        seq,
        f"{camera}{seq:04d}.png",
        pd.Timestamp(stamp_us, unit="us"),
        w,
        h,
        arr,
    )


def decode_bag(
    path: str, content: bytes, want: set[str] | None, frames: bool
) -> tuple[list[tuple], list[tuple]]:
    """One ``read_messages`` pass over a bag → (message rows, frame rows),
    shaped as ``MESSAGE_COLUMNS`` / ``FRAME_COLUMNS``; a frame row holds
    the raw pixel array in the ``content`` slot (see ``_frame_row``).

    ``want`` selects the message topics (None = every topic, empty = none).
    ``frames`` adds one frame row per sensor_msgs/Image message. Image
    connections are found by type, not topic, so only a messages-only pass
    can push ``want`` into the parse (the chunk-info whole-chunk skip).
    """
    content = _maybe_unwrap(path, content)
    bag_id = bag_id_from_path(path)
    msgs: list[tuple] = []
    imgs: list[tuple] = []
    for conn, t_ns, raw in read_messages(content, None if frames else want):
        is_image = frames and conn.msg_type == IMAGE_TYPE
        keep = want is None or conn.topic in want
        if not (keep or is_image):
            continue
        flat: dict[str, object] = {}
        conn.reader(raw, 0, "", flat)
        if keep:
            seq = flat.get("header.seq")
            payload = {k: stringify(v) for k, v in flat.items()}
            msgs.append(
                (
                    bag_id,
                    conn.topic,
                    t_ns,
                    int(seq) if seq is not None else None,
                    payload,
                )
            )
        if is_image:
            imgs.append(_frame_row(path, bag_id, conn.topic, flat))
    return msgs, imgs


def rosbag_decoder(path: str, content: bytes, topics: list[str] | None):
    """S4/S5: real .bag bytes → DataFrame[bag_id, topic, rosbagTimestamp,
    seq, payload]. ``seq`` lifts ``header.seq`` when the type carries a
    std_msgs/Header; the full flattened message (header included — matching
    ``str(msg)`` in bag_to_csv.py:116) lands in the payload map.
    """
    import pandas as pd

    msgs, _ = decode_bag(path, content, set(topics) if topics else None, False)
    return pd.DataFrame(msgs, columns=MESSAGE_COLUMNS)


def rosbag_frame_decoder(path: str, content: bytes):
    """S10-from-bag: sensor_msgs/Image messages → frames table rows, PNG-
    encoded — a deterministic one-pass stand-in for the reference's
    image_saver replay (engine.py:96-99 + export.launch ``left%04i.png``).

    Supports ``rgb8`` and ``mono8`` encodings; camera name = the topic's
    second path segment; ``frame_index`` = header.seq (capture order,
    surviving drops); filename = ``{camera}{seq:04d}.png``.
    """
    import pandas as pd

    from ..functions import png

    _, imgs = decode_bag(path, content, set(), True)
    rows = [(*r[:-1], png.encode(r[-1])) for r in imgs]
    return pd.DataFrame(rows, columns=FRAME_COLUMNS)


def _connection_record(
    cid: int, topic: str, msg_type: str, definition: str
) -> bytes:
    import hashlib

    inner = _hdr_bytes(
        {
            "topic": topic.encode(),
            "type": msg_type.encode(),
            # informational here: real ROS md5sums hash the *processed*
            # definition; the parser never checks this field
            "md5sum": hashlib.md5(definition.encode()).hexdigest().encode(),
            "message_definition": definition.encode(),
            "callerid": b"/record",
        }
    )
    return _record(
        {
            "op": bytes([OP_CONNECTION]),
            "conn": _U32.pack(cid),
            "topic": topic.encode(),
        },
        inner,
    )
