"""From-scratch Apache Avro binary codec + Object Container File I/O.

Why this exists: the reference's warehouse is a real Iceberg HadoopCatalog
(ImportParquetFolders.java:49-50) whose table metadata is JSON *plus avro
manifests*; no avro library or iceberg runtime jar exists in this
environment, so Iceberg-format interop (catalog/iceberg_format.py) needs an
avro encoder/decoder built from the public specification alone:

    https://avro.apache.org/docs/1.11.1/specification/

Implemented subset — everything Iceberg manifests use:

- primitives: null, boolean, int, long (zigzag varint), float, double,
  bytes, string
- complex: record, array, map, union, fixed
- Object Container File: magic ``Obj\\x01``, file-metadata map
  (``avro.schema``, ``avro.codec``), 16-byte sync marker, data blocks of
  (count, byte-length, payload, sync). Codec: ``null`` and ``deflate``
  (stdlib zlib, raw stream) — deflate is what Iceberg writes by default.

Schemas are the plain dict/list/str JSON forms from the spec; no class
hierarchy. Values are plain Python dicts/lists/scalars. Union writing
resolves the branch by runtime type (None → "null" branch, dict → first
record/map branch, etc.) — sufficient because Iceberg's manifest schemas
only union ["null", X].

Scale note: manifests are metadata, not data — a 100 TB table has O(100k)
manifest entries, far below anything needing distribution. This codec runs
driver-side only.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any, BinaryIO

from iceberg_metadata_pipeline_spark.catalog import atomic

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# primitive binary encoding
# ---------------------------------------------------------------------------


def write_long(out: BinaryIO, n: int) -> None:
    """Zigzag + base-128 varint (spec: 'int and long values are written
    using variable-length zig-zag coding')."""
    u = (n << 1) ^ (n >> 63)  # arithmetic shift: maps sign bit into bit 0
    u &= (1 << 64) - 1
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def read_long(inp: BinaryIO) -> int:
    shift = 0
    u = 0
    while True:
        raw = inp.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (u >> 1) ^ -(u & 1)  # zigzag decode


def write_bytes(out: BinaryIO, b: bytes) -> None:
    write_long(out, len(b))
    out.write(b)


def read_bytes(inp: BinaryIO) -> bytes:
    n = read_long(inp)
    if n < 0:
        raise ValueError("negative bytes length")
    data = inp.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


# ---------------------------------------------------------------------------
# schema-driven value encode / decode
# ---------------------------------------------------------------------------


def _schema_type(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _union_branch_for(value: Any, branches: list) -> tuple[int, Any]:
    """Pick the union branch for a runtime value. Null first (the Iceberg
    pattern is always ["null", X] or [X, "null"])."""
    for i, br in enumerate(branches):
        if _schema_type(br) == "null" and value is None:
            return i, br
    for i, br in enumerate(branches):
        if _schema_type(br) != "null" and value is not None:
            return i, br
    raise ValueError(f"no union branch for {value!r} in {branches!r}")


def write_datum(out: BinaryIO, schema: Any, value: Any) -> None:
    t = _schema_type(schema)
    if t == "null":
        if value is not None:
            raise ValueError(f"non-null value {value!r} for null schema")
        return
    if t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", float(value)))
    elif t == "double":
        out.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        write_bytes(out, bytes(value))
    elif t == "string":
        write_bytes(out, value.encode("utf-8") if isinstance(value, str) else bytes(value))
    elif t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(b)} != {schema['size']}")
        out.write(b)
    elif t == "union":
        idx, branch = _union_branch_for(value, schema)
        write_long(out, idx)
        write_datum(out, branch, value)
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] in value:
                fv = value[f["name"]]
            elif "default" in f:
                fv = f["default"]
            elif isinstance(f["type"], list) and any(
                _schema_type(b) == "null" for b in f["type"]
            ):
                fv = None
            else:
                raise ValueError(f"missing required field {f['name']!r}")
            write_datum(out, f["type"], fv)
    elif t == "array":
        items = list(value or [])
        if items:
            write_long(out, len(items))
            for it in items:
                write_datum(out, schema["items"], it)
        write_long(out, 0)
    elif t == "map":
        entries = dict(value or {})
        if entries:
            write_long(out, len(entries))
            for k, v in entries.items():
                write_bytes(out, k.encode("utf-8"))
                write_datum(out, schema["values"], v)
        write_long(out, 0)
    else:
        raise ValueError(f"unsupported avro type {t!r}")


def read_datum(inp: BinaryIO, schema: Any) -> Any:
    t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        return inp.read(1) == b"\x01"
    if t in ("int", "long"):
        return read_long(inp)
    if t == "float":
        return struct.unpack("<f", inp.read(4))[0]
    if t == "double":
        return struct.unpack("<d", inp.read(8))[0]
    if t == "bytes":
        return read_bytes(inp)
    if t == "string":
        return read_bytes(inp).decode("utf-8")
    if t == "fixed":
        return inp.read(schema["size"])
    if t == "union":
        idx = read_long(inp)
        return read_datum(inp, schema[idx])
    if t == "record":
        return {f["name"]: read_datum(inp, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = read_long(inp)
            if n == 0:
                return out
            if n < 0:  # block with explicit byte size (writers may emit this)
                n = -n
                read_long(inp)  # skip the byte count
            for _ in range(n):
                out.append(read_datum(inp, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = read_long(inp)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(inp)
            for _ in range(n):
                k = read_bytes(inp).decode("utf-8")
                out[k] = read_datum(inp, schema["values"])
    raise ValueError(f"unsupported avro type {t!r}")


# ---------------------------------------------------------------------------
# Object Container File
# ---------------------------------------------------------------------------

_META_SCHEMA = {"type": "map", "values": "bytes"}


def write_container(
    path: str,
    schema: Any,
    records: list[Any],
    *,
    codec: str = "deflate",
    extra_meta: dict[str, bytes] | None = None,
    sync: bytes | None = None,
) -> None:
    """Write an Avro OCF. ``extra_meta`` carries Iceberg's manifest keys
    ("schema", "partition-spec", "format-version", ...)."""
    body = io.BytesIO()
    for rec in records:
        write_datum(body, schema, rec)
    frame_container(
        path,
        schema,
        len(records),
        body.getvalue(),
        codec=codec,
        extra_meta=extra_meta,
        sync=sync,
    )


def frame_container(
    path: str,
    schema: Any,
    count: int,
    raw_body: bytes,
    *,
    codec: str = "deflate",
    extra_meta: dict[str, bytes] | None = None,
    sync: bytes | None = None,
) -> None:
    """OCF framing around pre-encoded record bodies: header + one data
    block + sync. Shared by the per-record writer above and the
    vectorized encoder (ingest/avro_vector.py) so both produce
    byte-identical containers."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    # deterministic sync marker by default (derived from path) so repeated
    # exports of the same table are byte-stable — easier to test, and
    # commit-retry-safe
    if sync is None:
        import hashlib

        sync = hashlib.md5(path.encode()).digest()
    assert len(sync) == 16
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    meta.update(extra_meta or {})

    payload = raw_body
    if codec == "deflate":
        # spec: raw deflate stream, no zlib header/checksum (wbits=-15)
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    out = io.BytesIO()
    out.write(MAGIC)
    write_datum(out, _META_SCHEMA, meta)
    out.write(sync)
    if count:
        write_long(out, count)
        write_bytes(out, payload)
        out.write(sync)
    atomic.replace(path, out.getvalue())


def read_container(
    path: str, header_only: bool = False
) -> tuple[Any, dict[str, bytes], list[Any]]:
    """Read an Avro OCF → (schema, file-metadata, records). Handles
    multi-block files and both null/deflate codecs, so it can read
    manifests written by a REAL Iceberg as well as our own.

    ``header_only=True`` parses just magic + file metadata (schema
    validation pays header bytes, never data blocks) and returns
    ``records=[]``."""
    if header_only:
        with open(path, "rb") as fh:
            if fh.read(4) != MAGIC:
                raise ValueError(f"{path}: not an avro object container file")
            meta = read_datum(fh, _META_SCHEMA)
        return json.loads(meta["avro.schema"].decode()), meta, []
    with open(path, "rb") as fh:
        data = fh.read()
    inp = io.BytesIO(data)
    if inp.read(4) != MAGIC:
        raise ValueError(f"{path}: not an avro object container file")
    meta = read_datum(inp, _META_SCHEMA)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    sync = inp.read(16)
    records: list[Any] = []
    while True:
        head = inp.read(1)
        if not head:
            break
        inp.seek(-1, io.SEEK_CUR)
        count = read_long(inp)
        block = read_bytes(inp)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bin_ = io.BytesIO(block)
        for _ in range(count):
            records.append(read_datum(bin_, schema))
        if inp.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt block)")
    return schema, meta, records
