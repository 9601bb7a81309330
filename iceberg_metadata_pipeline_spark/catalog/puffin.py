"""Puffin statistics files — Iceberg's public stats-file format, from
scratch (iceberg.apache.org/puffin-spec):

    Magic | Blob_1 .. Blob_n | Magic | FooterPayload(JSON) |
    FooterPayloadSize(int32 LE) | Flags(4 bytes) | Magic

Footer payload: ``{"blobs": [BlobMetadata...], "properties": {...}}``
with each blob's ``type``, ``fields`` (schema field ids),
``snapshot-id``, ``sequence-number``, ``offset``, ``length`` and free
``properties`` (the ``ndv`` property is what engines actually read for
CBO). Flags bit 0 (payload compression) is written 0 and honored 0-only
on read — LZ4 frames are refused loudly, never misparsed.

The NDV blobs carry ``apache-datasketches-theta-v1`` payloads produced
by Spark's own ``theta_sketch_agg`` — Spark 4's implementation IS the
Apache DataSketches java library, so the bytes are the real
interchange format a Trino/real-Spark reader deserializes, not a
lookalike. ``attach_ndv_statistics`` computes every requested column's
sketch in ONE aggregate pass over the table scan, writes the puffin
file next to the exported Iceberg metadata, and records the spec's
``statistics`` entry in the metadata JSON — after which a CBO that
trusts the catalog sees per-column NDV without touching data.

Scale: one scan, partial-aggregated sketches (a few KB per column
shuffled, independent of row count) — the standing way to keep join
reordering honest on a 100 TB warehouse without an O(data) ANALYZE per
planning decision.
"""

from __future__ import annotations

import json
import os
import struct

from iceberg_metadata_pipeline_spark.catalog import atomic

MAGIC = b"PFA1"


def write_puffin(
    path: str,
    blobs: list[dict],
    file_properties: dict | None = None,
) -> tuple[list[dict], int]:
    """Write a puffin file. Each blob dict: ``{"type", "fields",
    "snapshot-id", "sequence-number", "payload": bytes, "properties"}``.
    Returns (blob-metadata list with offsets/lengths, footer size in
    bytes) — both needed for the Iceberg metadata ``statistics``
    entry."""
    blob_meta = []
    with open(path, "wb") as fh:
        fh.write(MAGIC)
        for b in blobs:
            payload = b["payload"]
            blob_meta.append(
                {
                    "type": b["type"],
                    "fields": list(b.get("fields") or []),
                    "snapshot-id": int(b.get("snapshot-id") or 0),
                    "sequence-number": int(b.get("sequence-number") or 0),
                    "offset": fh.tell(),
                    "length": len(payload),
                    **(
                        {"properties": b["properties"]}
                        if b.get("properties")
                        else {}
                    ),
                }
            )
            fh.write(payload)
        footer = json.dumps(
            {"blobs": blob_meta, "properties": file_properties or {}},
            separators=(",", ":"),
        ).encode()
        fh.write(MAGIC)
        fh.write(footer)
        fh.write(struct.pack("<i", len(footer)))
        fh.write(b"\x00\x00\x00\x00")  # flags: payload uncompressed
        fh.write(MAGIC)
    # footer region: magic + payload + size(4) + flags(4) + magic
    return blob_meta, 4 + len(footer) + 12


def read_puffin_footer(path: str) -> tuple[list[dict], dict]:
    """→ (blob_metadata list, file_properties) reading ONLY the magics
    and the footer (seek-based) — O(footer bytes) regardless of payload
    size. The scale-side of the split decode: a driver validates blob
    METADATA here (types, offsets, referenced-data-file properties)
    while payload bytes are read at their offsets inside tasks."""
    fsize = os.path.getsize(path)
    with open(path, "rb") as fh:
        if fh.read(4) != MAGIC:
            raise ValueError(f"{path}: not a puffin file (magic mismatch)")
        fh.seek(fsize - 12)
        tail = fh.read(12)
        if tail[-4:] != MAGIC:
            raise ValueError(f"{path}: not a puffin file (magic mismatch)")
        if tail[4] & 0x01:
            raise NotImplementedError(
                f"{path}: compressed footer payload (flags bit 0) not supported"
            )
        (size,) = struct.unpack("<i", tail[:4])
        payload_end = fsize - 12
        fh.seek(payload_end - size - 4)
        blob = fh.read(size + 4)
    if blob[:4] != MAGIC:
        raise ValueError(f"{path}: footer start magic mismatch")
    footer = json.loads(blob[4:])
    for bm in footer["blobs"]:
        if bm.get("compression-codec"):
            raise NotImplementedError(
                f"{path}: blob compression {bm['compression-codec']!r} "
                "not supported"
            )
    return footer["blobs"], footer.get("properties", {})


def read_puffin(path: str) -> tuple[list[tuple[dict, bytes]], dict]:
    """→ ([(blob_metadata, payload_bytes), ...], file_properties)."""
    with open(path, "rb") as fh:
        data = fh.read()
    if data[:4] != MAGIC or data[-4:] != MAGIC:
        raise ValueError(f"{path}: not a puffin file (magic mismatch)")
    flags = data[-8:-4]
    if flags[0] & 0x01:
        raise NotImplementedError(
            f"{path}: compressed footer payload (flags bit 0) not supported"
        )
    (size,) = struct.unpack("<i", data[-12:-8])
    payload_end = len(data) - 12
    footer = json.loads(data[payload_end - size : payload_end])
    if data[payload_end - size - 4 : payload_end - size] != MAGIC:
        raise ValueError(f"{path}: footer start magic mismatch")
    out = []
    for bm in footer["blobs"]:
        off, ln = int(bm["offset"]), int(bm["length"])
        if bm.get("compression-codec"):
            raise NotImplementedError(
                f"{path}: blob compression {bm['compression-codec']!r} "
                "not supported"
            )
        out.append((bm, data[off : off + ln]))
    return out, footer.get("properties", {})


def attach_ndv_statistics(
    spark, table, meta_path: str, columns: list[str]
) -> str:
    """Compute theta sketches + NDV for ``columns`` in one aggregate
    pass, write ``<snapshot-id>.stats`` puffin beside ``meta_path``, and
    register it in the Iceberg metadata JSON's ``statistics`` list
    (replacing a previous entry for the same snapshot). Returns the
    puffin path."""
    from pyspark.sql import functions as F

    snap = table.current_snapshot
    if snap is None:
        raise ValueError("no snapshot to attach statistics to")
    snap_id = int(snap["snapshot_id"])

    with open(meta_path) as fh:
        md = json.load(fh)
    schema = next(
        s
        for s in md["schemas"]
        if s.get("schema-id", 0) == md.get("current-schema-id", 0)
    )
    field_ids = {f["name"]: f["id"] for f in schema["fields"]}
    missing = [c for c in columns if c not in field_ids]
    if missing:
        raise ValueError(f"columns not in exported schema: {missing}")

    df = table.scan()
    aggs = []
    for c in columns:
        aggs.append(F.expr(f"theta_sketch_agg({c})").alias(f"__sk_{c}"))
        aggs.append(
            F.expr(f"theta_sketch_estimate(theta_sketch_agg({c}))").alias(
                f"__ndv_{c}"
            )
        )
    row = df.agg(*aggs).collect()[0]

    seq = int(md.get("last-sequence-number", 1))
    blobs = [
        {
            "type": "apache-datasketches-theta-v1",
            "fields": [field_ids[c]],
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "payload": bytes(row[f"__sk_{c}"]),
            "properties": {"ndv": str(int(row[f"__ndv_{c}"]))},
        }
        for c in columns
    ]
    stats_path = os.path.join(os.path.dirname(meta_path), f"{snap_id}.stats")
    blob_meta, footer_size = write_puffin(
        stats_path, blobs, {"created-by": "iceberg-metadata-pipeline-spark"}
    )
    file_size = os.path.getsize(stats_path)
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": os.path.abspath(stats_path),
        "file-size-in-bytes": file_size,
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": blob_meta,
    }
    stats = [
        s for s in md.get("statistics", []) if s.get("snapshot-id") != snap_id
    ]
    stats.append(entry)
    md["statistics"] = stats
    atomic.replace(meta_path, json.dumps(md, indent=2).encode())
    return stats_path


def read_ndv_statistics(meta_path: str) -> dict[int, int]:
    """field-id → NDV from the metadata's statistics files (the blob
    ``ndv`` property — what engines read without deserializing the
    sketch). Statistics entries are PER-SNAPSHOT: when an entry exists
    for the current snapshot it wins; otherwise ancestor snapshots'
    entries serve as the estimate (the Trino posture — a slightly stale
    NDV beats none), with later entries overriding earlier ones."""
    with open(meta_path) as fh:
        md = json.load(fh)
    entries = md.get("statistics", [])
    cur = md.get("current-snapshot-id")
    if cur is not None:
        exact = [e for e in entries if e.get("snapshot-id") == cur]
        if exact:
            entries = exact
    out: dict[int, int] = {}
    for entry in entries:
        blobs, _ = read_puffin(entry["statistics-path"])
        for bm, _payload in blobs:
            if bm["type"] == "apache-datasketches-theta-v1":
                ndv = (bm.get("properties") or {}).get("ndv")
                if ndv is not None and len(bm["fields"]) == 1:
                    out[int(bm["fields"][0])] = int(ndv)
    return out


# ---------------------------------------------------------------------------
# Iceberg v3 deletion vectors ("deletion-vector-v1" blobs)
# ---------------------------------------------------------------------------

DV_MAGIC = b"\xd1\xd3\x39\x64"


def encode_dv_payload(positions: list[int]) -> bytes:
    """Row positions → the v3 spec's blob bytes: 4-byte big-endian
    length of (magic + vector), magic ``D1 D3 39 64``, the portable
    64-bit roaring bitmap, 4-byte big-endian CRC-32 of magic+vector."""
    import struct as _struct
    import zlib as _zlib

    from iceberg_metadata_pipeline_spark.catalog import roaring

    body = DV_MAGIC + roaring.serialize64(sorted(set(positions)))
    return (
        _struct.pack(">i", len(body)) + body + _struct.pack(">I", _zlib.crc32(body))
    )


def decode_dv_payload(data: bytes) -> list[int]:
    """Inverse of encode_dv_payload, CRC-verified."""
    import struct as _struct
    import zlib as _zlib

    from iceberg_metadata_pipeline_spark.catalog import roaring

    (ln,) = _struct.unpack_from(">i", data, 0)
    body = data[4 : 4 + ln]
    if body[:4] != DV_MAGIC:
        raise ValueError("deletion vector magic mismatch")
    (crc,) = _struct.unpack_from(">I", data, 4 + ln)
    if _zlib.crc32(body) != crc:
        raise ValueError("deletion vector CRC mismatch")
    return roaring.deserialize64(body[4:])


def write_deletion_vectors(
    path: str, dvs: dict[str, list[int]], snapshot_id: int = 0, seq: int = 0
) -> dict[str, dict]:
    """Write one puffin file holding a ``deletion-vector-v1`` blob per
    referenced data file (the v3 layout: a commit's DVs share one
    puffin). Returns per data file ``{"offset", "length",
    "cardinality"}`` — what the delete manifest entry records in
    ``content_offset`` / ``content_size_in_bytes``."""
    return write_dv_puffin(
        path,
        [
            (df, encode_dv_payload(ps), len(set(ps)))
            for df, ps in sorted(dvs.items())
        ],
        snapshot_id=snapshot_id,
        seq=seq,
    )


def write_dv_puffin(
    path: str,
    blobs: list[tuple[str, bytes, int]],
    snapshot_id: int = 0,
    seq: int = 0,
) -> dict[str, dict]:
    """Concatenate PRE-ENCODED deletion-vector payloads (built inside
    Spark tasks via ``encode_dv_payload``) into one puffin file. Input:
    ``[(referenced data file, payload bytes, cardinality)]``. The
    driver's work here is O(#referenced files) blob bytes — it never
    sees a position, which is what keeps v3 DV minting flat in deleted
    rows at export time. Returns the same per-file
    ``{"offset", "length", "cardinality"}`` map as
    ``write_deletion_vectors``."""
    order = [ref for ref, _, _ in sorted(blobs)]
    blob_meta, _ = write_puffin(
        path,
        [
            {
                "type": "deletion-vector-v1",
                "fields": [2147483546, 2147483545],  # pos, file_path reserved ids
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "payload": payload,
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(int(card)),
                },
            }
            for ref, payload, card in sorted(blobs)
        ],
    )
    return {
        df: {
            "offset": bm["offset"],
            "length": bm["length"],
            "cardinality": int(bm["properties"]["cardinality"]),
        }
        for df, bm in zip(order, blob_meta)
    }


def read_deletion_vectors(
    path: str, content_offset: int | None = None
) -> list[tuple[str, list[int]]]:
    """→ [(referenced data file, positions)]. With ``content_offset``
    only the blob at that offset is decoded (what a manifest entry
    pins); otherwise every deletion-vector-v1 blob in the file."""
    blobs, _ = read_puffin(path)
    out = []
    for bm, payload in blobs:
        if bm["type"] != "deletion-vector-v1":
            continue
        if content_offset is not None and int(bm["offset"]) != int(content_offset):
            continue
        ref = (bm.get("properties") or {}).get("referenced-data-file")
        if ref is None:
            raise ValueError(
                f"{path}: deletion-vector blob at {bm['offset']} lacks the "
                "referenced-data-file property"
            )
        out.append((ref, decode_dv_payload(payload)))
    if content_offset is not None and not out:
        raise ValueError(f"{path}: no deletion-vector blob at offset {content_offset}")
    return out
