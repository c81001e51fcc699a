"""Seeded Kafka-Connect Avro topic trees and their expected output.

The generator writes ``<root>/<topic>/partition=<N>/<topic>+<N>+<from>+<to>.avro``
object-container files the way the Kafka Connect HDFS/S3 sinks do: records
hash to partitions by their Kafka key (project, user, source), each
partition is a time-ordered stream cut into files at a fixed flush size,
and file names carry the inclusive offset range.  Everything is a pure
function of the seed, the
spec and the batch window; the Avro sync marker comes from the seed, so two
generations write byte-identical trees.

The encoder here is an independent implementation of the public Avro 1.x
spec (zig-zag varints, object-container blocks, ``null``/``deflate``/
``snappy`` codecs, snappy blocks followed by a big-endian CRC32 of the
uncompressed data).  The oracle counts come from the generated records,
never from the program's decoder.
"""

from __future__ import annotations

import json
import os
import random
import struct
import zlib
from dataclasses import dataclass, field

MAGIC = b"Obj\x01"
CODECS = ("null", "deflate", "snappy")
BLOCK_RECORDS = 500  # records per container block
PROJECTS = 2
SOURCES = 2  # devices per user; the Kafka key is (project, user, source)

# ---------------------------------------------------------------------------
# Avro binary encoding.
# ---------------------------------------------------------------------------


def _long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _bytes(b: bytes) -> bytes:
    return _long(len(b)) + b


def _encode(value, schema) -> bytes:
    if isinstance(schema, list):  # union
        if value is None:
            return _long(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _long(idx) + _encode(value, schema[idx])
    if isinstance(schema, dict):
        if schema["type"] == "record":
            return b"".join(_encode(value[f["name"]], f["type"]) for f in schema["fields"])
        return _encode(value, schema["type"])
    if schema == "string":
        return _bytes(value.encode("utf-8"))
    if schema in ("int", "long"):
        return _long(value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "float":
        return struct.pack("<f", value)
    if schema == "null":
        return b""
    raise ValueError(f"unsupported schema node {schema!r}")


def _snappy_compress(data: bytes) -> bytes:
    """Raw snappy (format_description.txt): greedy 4-byte-hash matcher
    emitting literals and 2-byte-offset copies of 4..64 bytes."""
    out = bytearray(_varint_le(len(data)))
    table: dict[bytes, int] = {}
    i = lit_start = 0
    n = len(data)

    def literal(lo: int, hi: int) -> None:
        while lo < hi:
            run = min(hi - lo, 65536)
            if run <= 60:
                out.append((run - 1) << 2)
            else:
                nb = 1 if run - 1 < 256 else 2
                out.append((59 + nb) << 2)
                out.extend((run - 1).to_bytes(nb, "little"))
            out.extend(data[lo : lo + run])
            lo += run

    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 0xFFFF:
            i += 1
            continue
        length = 4
        while i + length < n and length < 64 and data[cand + length] == data[i + length]:
            length += 1
        literal(lit_start, i)
        out.append(((length - 1) << 2) | 2)
        out.extend((i - cand).to_bytes(2, "little"))
        i += length
        lit_start = i
    literal(lit_start, n)
    return bytes(out)


def _varint_le(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def container_bytes(schema: dict, records: list[dict], codec: str, sync: bytes) -> bytes:
    """One Avro object-container file."""
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    out = bytearray(MAGIC)
    out += _long(len(meta))
    for k, v in meta.items():
        out += _bytes(k.encode()) + _bytes(v)
    out += _long(0) + sync
    for lo in range(0, len(records), BLOCK_RECORDS):
        chunk = records[lo : lo + BLOCK_RECORDS]
        raw = b"".join(_encode(r, schema) for r in chunk)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            block = c.compress(raw) + c.flush()
        elif codec == "snappy":
            block = _snappy_compress(raw) + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
        else:
            block = raw
        out += _long(len(chunk)) + _long(len(block)) + block + sync
    return bytes(out)


# ---------------------------------------------------------------------------
# RADAR-style observation schemas; v2 adds one nullable field.
# ---------------------------------------------------------------------------

KEY_SCHEMA = {
    "type": "record",
    "name": "ObservationKey",
    "namespace": "org.radarcns.kafka",
    "fields": [
        {"name": "projectId", "type": ["null", "string"]},
        {"name": "userId", "type": "string"},
        {"name": "sourceId", "type": "string"},
    ],
}

_VALUE_FIELDS = [
    {"name": "time", "type": "double"},
    {"name": "timeReceived", "type": "double"},
    {"name": "seq", "type": "long"},
    {"name": "x", "type": "float"},
    {"name": "y", "type": "float"},
    {"name": "z", "type": "float"},
]
NEW_FIELD = {"name": "batteryLevel", "type": ["null", "float"], "default": None}


def record_schema(version: int) -> dict:
    fields = list(_VALUE_FIELDS) + ([NEW_FIELD] if version >= 2 else [])
    return {
        "type": "record",
        "name": "BenchRecord",
        "namespace": "perfbench",
        "fields": [
            {"name": "key", "type": KEY_SCHEMA},
            {
                "name": "value",
                "type": {"type": "record", "name": "Acceleration", "fields": fields},
            },
        ],
    }


# ---------------------------------------------------------------------------
# Tree generation.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TreeSpec:
    """Shape of one generated source tree.  Every partition's second half
    of files is written with schema v2."""

    topics: int
    partitions: int
    users: int
    per_user_hour: int  # records per user per hour, before planted duplicates
    records_per_file: int  # Kafka Connect flush size
    dup_rate: float  # share of records re-emitted later in the same file


@dataclass
class SourceTree:
    """What a generated batch wrote, plus the oracle bookkeeping."""

    files: list[str] = field(default_factory=list)
    records: int = 0  # records written to Avro, duplicates included
    # (project, user, topic, bin) -> [distinct rows, sum of value.seq]
    expected: dict = field(default_factory=dict)
    # (topic, partition) -> next free offset
    next_offset: dict = field(default_factory=dict)


def topic_names(spec: TreeSpec) -> list[str]:
    return [f"bench_topic_{i}" for i in range(spec.topics)]


def users(spec: TreeSpec, seed: int) -> list[tuple[str, str]]:
    rng = random.Random(f"users:{seed}")
    return [
        (f"proj-{i % PROJECTS}", "%08x-%04x" % (rng.getrandbits(32), i))
        for i in range(spec.users)
    ]


def partition_of(key: str, partitions: int) -> int:
    """Kafka-style key hashing (stable across runs)."""
    return zlib.crc32(key.encode()) % partitions


def bin_name(t_seconds: float) -> str:
    import time

    return time.strftime("%Y%m%d_%H00", time.gmtime(t_seconds))


def generate_batch(
    root: str,
    spec: TreeSpec,
    seed: int,
    t_from: float,
    t_to: float,
    mtime_for,
    tree: SourceTree | None = None,
) -> SourceTree:
    """Write one batch of records with event times in ``[t_from, t_to)`` for
    every topic and user, continuing the offsets recorded in ``tree``.

    ``mtime_for(t_last_event)`` gives each file's mtime from the event time of
    its last record, so callers can age files relative to the clock."""
    tree = tree if tree is not None else SourceTree()
    sync = random.Random(f"sync:{seed}").getrandbits(128).to_bytes(16, "big")
    people = users(spec, seed)
    hours = (t_to - t_from) / 3600.0
    n_user = max(1, round(spec.per_user_hour * hours))
    for topic in topic_names(spec):
        streams: dict[int, list[tuple[float, int, dict]]] = {}
        for ui, (project, user) in enumerate(people):
            rng = random.Random(f"rec:{seed}:{topic}:{user}:{t_from}")
            step = (t_to - t_from) / n_user
            for k in range(n_user):
                t = round(t_from + (k + rng.random()) * step, 3)
                source = f"src-{ui}-{k % SOURCES}"
                streams.setdefault(
                    partition_of(f"{project}/{user}/{source}", spec.partitions), []
                ).append(
                    (t, ui, {
                        "key": {"projectId": project, "userId": user,
                                "sourceId": source},
                        "value": {"time": t, "timeReceived": round(t + 0.25, 3),
                                  "seq": 0,
                                  "x": rng.uniform(-1, 1), "y": rng.uniform(-1, 1),
                                  "z": rng.uniform(-1, 1), "batteryLevel": None},
                    })
                )
        for part in sorted(streams):
            recs = [r for _t, _u, r in sorted(streams[part], key=lambda x: (x[0], x[1]))]
            rng = random.Random(f"files:{seed}:{topic}:{part}:{t_from}")
            chunks = [
                recs[i : i + spec.records_per_file]
                for i in range(0, len(recs), spec.records_per_file)
            ]
            half = len(chunks) // 2
            for ci, chunk in enumerate(chunks):
                version = 2 if ci >= half else 1
                rows = []
                for r in chunk:
                    seq = tree.records + len(rows) + 1
                    r["value"]["seq"] = seq
                    if version == 2:
                        r["value"]["batteryLevel"] = round(rng.random(), 2)
                    rows.append(r)
                    _expect(tree, topic, r)
                # Planted duplicates: exact re-emissions later in the same
                # file (a producer retry), so dedup must drop them.
                for r in list(rows):
                    if rng.random() < spec.dup_rate:
                        rows.insert(rng.randrange(rows.index(r) + 1, len(rows) + 1), r)
                if version == 1:
                    for r in rows:
                        r["value"].pop("batteryLevel", None)
                lo = tree.next_offset.get((topic, part), 0)
                hi = lo + len(rows) - 1
                tree.next_offset[(topic, part)] = hi + 1
                d = os.path.join(root, topic, f"partition={part}")
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{topic}+{part}+{lo}+{hi}.avro")
                codec = CODECS[rng.randrange(len(CODECS))]
                with open(path, "wb") as fh:
                    fh.write(container_bytes(record_schema(version), rows, codec, sync))
                mt = mtime_for(rows[-1]["value"]["time"])
                os.utime(path, (mt, mt))
                tree.files.append(path)
                tree.records += len(rows)
    return tree


def _expect(tree: SourceTree, topic: str, r: dict) -> None:
    k = (r["key"]["projectId"], r["key"]["userId"], topic, bin_name(r["value"]["time"]))
    cell = tree.expected.setdefault(k, [0, 0])
    cell[0] += 1
    cell[1] += r["value"]["seq"]


def tree_digest(root: str) -> str:
    """SHA-256 over every file's relative path and bytes, in sorted order."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
