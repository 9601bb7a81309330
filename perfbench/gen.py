"""Seeded inputs for the lakehouse benchmark.

Everything the program receives is made here from the seed: Parquet
folders shaped like the reference's data (an ``fhv_tripdata`` fact with a
UINT64 id and epoch-µs times, a taxi-zone dimension, and a
``system_interface_counters`` folder whose UINT64 ``timestamp`` sends
``import_data_root`` down the sanitize path), the ``add_files`` batch
folders, and the SQL text of every statement. Each statement carries its
DuckDB twin so the checks can replay it over the same files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_700_000_000_000_000  # 2023-11-14, the base of every µs time
DAY_US = 86_400_000_000
SPAN_DAYS = 30
N_ZONES = 265
FACT = "nyc.fhv_tripdata"
COUNTERS = "nyc.system_interface_counters"

FACT_SCHEMA = pa.schema(
    [
        ("trip_id", pa.uint64()),
        ("dispatching_base_num", pa.string()),
        ("pickup_us", pa.int64()),
        ("dropoff_us", pa.int64()),
        ("PUlocationID", pa.int32()),
        ("DOlocationID", pa.int32()),
        ("SR_Flag", pa.int32()),
        ("base_fare", pa.decimal128(10, 2)),
    ]
)


@dataclass(frozen=True)
class LakeShape:
    fact_files: int
    fact_rows_per_file: int
    counter_files: int
    counter_rows_per_file: int
    batches: int = 0  # add_files folders, one file each
    batch_rows: int = 0


# Copy-on-write DML rewrites whole files, so the fact table is kept small.
INGEST_LAKE = LakeShape(4, 10_000, 2, 5_000, batches=40, batch_rows=2_000)


@dataclass
class Statement:
    spark: str
    # DuckDB statements with the same effect over the mirror; for a read,
    # the one query that must give the same rows
    duck: tuple[str, ...] = ()
    kind: str = "read"


@dataclass
class Lake:
    root: str  # the data root handed to import_data_root
    batch_dirs: list[str] = field(default_factory=list)
    base_ids: tuple[int, int] = (0, 0)  # trip_id range of the base fact folder
    next_trip_id: int = 0  # first id no file uses

    def folder(self, name: str) -> str:
        return os.path.join(self.root, name)


def _fact_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    pickup = EPOCH_US + rng.integers(0, SPAN_DAYS * DAY_US, n)
    sr = rng.integers(0, 3, n).astype(np.int32)
    return pa.table(
        {
            "trip_id": pa.array(np.arange(first_id, first_id + n, dtype=np.uint64)),
            "dispatching_base_num": pa.array(
                [f"B{b:05d}" for b in rng.integers(0, 40, n)]
            ),
            "pickup_us": pa.array(pickup, pa.int64()),
            "dropoff_us": pa.array(pickup + rng.integers(60_000_000, 3_600_000_000, n)),
            "PUlocationID": pa.array(rng.integers(1, N_ZONES + 1, n).astype(np.int32)),
            "DOlocationID": pa.array(rng.integers(1, N_ZONES + 1, n).astype(np.int32)),
            # the real feed leaves SR_Flag mostly empty
            "SR_Flag": pa.array(sr, mask=rng.random(n) < 0.6),
            "base_fare": _cents(rng.integers(250, 9_000, n)),
        },
        schema=FACT_SCHEMA,
    )


def _cents(cents: np.ndarray) -> pa.Array:
    """Non-negative integer cents → DECIMAL(10,2), built from the unscaled
    128-bit values so no float rounding is involved."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(10, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def _counters_table(rng: np.random.Generator, n: int, file_idx: int) -> pa.Table:
    ts = EPOCH_US + rng.integers(0, SPAN_DAYS * DAY_US, n).astype(np.uint64)
    rx = rng.integers(0, 2**40, n, dtype=np.uint64)
    if file_idx == 0:
        rx[0] = 2**63 + 5  # above int64: only DECIMAL(20,0) holds it
    return pa.table(
        {
            "timestamp": pa.array(ts, pa.uint64()),
            "device": pa.array([f"sw{d:02d}" for d in rng.integers(0, 12, n)]),
            "iface": pa.array([f"eth{i}" for i in rng.integers(0, 8, n)]),
            "rx_bytes": pa.array(rx, pa.uint64()),
            "tx_bytes": pa.array(rng.integers(0, 2**40, n, dtype=np.uint64), pa.uint64()),
            "rx_errors": pa.array(rng.integers(0, 50, n, dtype=np.uint64), pa.uint64()),
            "status": pa.array(np.where(rng.random(n) < 0.9, "up", "down")),
        }
    )


def _zones_table(rng: np.random.Generator) -> pa.Table:
    boroughs = ["Bronx", "Brooklyn", "EWR", "Manhattan", "Queens", "Staten Island"]
    ids = np.arange(1, N_ZONES + 1, dtype=np.int32)
    return pa.table(
        {
            "LocationID": pa.array(ids),
            "Borough": pa.array([boroughs[i] for i in rng.integers(0, 6, N_ZONES)]),
            "Zone": pa.array([f"zone-{i}" for i in ids]),
            "service_zone": pa.array(
                [("Boro Zone", "Yellow Zone", "Airports")[i] for i in rng.integers(0, 3, N_ZONES)]
            ),
        }
    )


def make_lake(root: str, shape: LakeShape, seed: int) -> Lake:
    """Write the base lake (three folders) and the add_files batches."""
    rng = np.random.default_rng(seed)
    lake = Lake(os.path.join(root, "lake"))
    fact_dir = lake.folder("fhv_tripdata")
    os.makedirs(fact_dir)
    next_id = 1_000_000 + int(rng.integers(0, 1000)) * 1_000_000
    lake.base_ids = (next_id, next_id + shape.fact_files * shape.fact_rows_per_file)
    for i in range(shape.fact_files):
        pq.write_table(
            _fact_table(rng, next_id, shape.fact_rows_per_file),
            os.path.join(fact_dir, f"fhv_tripdata_{i:03d}.parquet"),
        )
        next_id += shape.fact_rows_per_file
    zones_dir = lake.folder("taxi_zone_lookup")
    os.makedirs(zones_dir)
    pq.write_table(_zones_table(rng), os.path.join(zones_dir, "taxi_zone_lookup.parquet"))
    counters_dir = lake.folder("System_Interface_Counters")
    os.makedirs(counters_dir)
    for i in range(shape.counter_files):
        pq.write_table(
            _counters_table(rng, shape.counter_rows_per_file, i),
            os.path.join(counters_dir, f"counters_{i:03d}.parquet"),
        )
    for b in range(shape.batches):
        bdir = os.path.join(root, "batches", f"batch_{b:03d}")
        os.makedirs(bdir)
        pq.write_table(
            _fact_table(rng, next_id, shape.batch_rows),
            os.path.join(bdir, f"fhv_tripdata_batch_{b:03d}.parquet"),
        )
        next_id += shape.batch_rows
        lake.batch_dirs.append(bdir)
    lake.next_trip_id = next_id
    return lake


# ---------------------------------------------------------------- ingest_rw


def _values_rows(rng, ids) -> list[str]:
    out = []
    for tid in ids:
        pu = EPOCH_US + int(rng.integers(0, SPAN_DAYS * DAY_US))
        out.append(
            f"({tid}, 'B{int(rng.integers(0, 40)):05d}', {pu}, "
            f"{pu + int(rng.integers(60_000_000, 3_600_000_000))}, "
            f"{int(rng.integers(1, N_ZONES + 1))}, {int(rng.integers(1, N_ZONES + 1))}, "
            f"{int(rng.integers(0, 3))}, {int(rng.integers(250, 9_000)) / 100:.2f})"
        )
    return out


# The writer's statement kinds, in the order of every cycle
WRITE_KINDS = (
    "add_files", "insert", "delete", "update", "merge", "rewrite_data_files", "expire_snapshots",
)


def writer_sequence(rng: np.random.Generator, lake: Lake) -> list[Statement]:
    """The writer's statements in order. Every cycle is the same seven
    kinds: it registers a new batch folder, then INSERTs, DELETEs, UPDATEs
    and MERGEs, then compacts and expires snapshots. Only the literals vary
    with the seed. Longer than any run can consume."""
    new_id = lake.next_trip_id
    seq: list[Statement] = []
    for batch in lake.batch_dirs:
        cycle = [
            Statement(
                f"CALL system.add_files(table => '{FACT}', source_dir => '{batch}')",
                (f"INSERT INTO {FACT} SELECT * FROM read_parquet('{batch}/*.parquet')",),
                "add_files",
            )
        ]
        ids = list(range(new_id, new_id + 3))
        new_id += 3
        sql = f"INSERT INTO {FACT} VALUES " + ", ".join(_values_rows(rng, ids))
        cycle.append(Statement(sql, (sql,), "insert"))
        k, m = int(rng.integers(1, N_ZONES + 1)), int(rng.integers(0, 7))
        sql = f"DELETE FROM {FACT} WHERE PUlocationID = {k} AND trip_id % 7 = {m}"
        cycle.append(Statement(sql, (sql,), "delete"))
        k = int(rng.integers(1, N_ZONES + 1))
        sql = f"UPDATE {FACT} SET base_fare = base_fare + 1.25 WHERE DOlocationID = {k}"
        cycle.append(Statement(sql, (sql,), "update"))
        # distinct keys: MERGE rejects two source rows matching one target row
        matched = [int(x) for x in rng.choice(np.arange(*lake.base_ids), 2, replace=False)]
        fresh = list(range(new_id, new_id + 2))
        new_id += 2
        rows = ", ".join(_values_rows(rng, matched + fresh))
        cols = ", ".join(FACT_SCHEMA.names)
        cycle.append(
            Statement(
                f"MERGE INTO {FACT} AS t USING (SELECT * FROM VALUES {rows} AS v({cols})) AS s "
                "ON t.trip_id = s.trip_id "
                "WHEN MATCHED THEN UPDATE SET base_fare = s.base_fare "
                "WHEN NOT MATCHED THEN INSERT *",
                # the mirror's DuckDB has no MERGE: the same effect in two steps
                (
                    f"UPDATE {FACT} t SET base_fare = s.base_fare FROM (VALUES {rows}) s({cols}) "
                    "WHERE t.trip_id = s.trip_id",
                    f"INSERT INTO {FACT} SELECT * FROM (VALUES {rows}) s({cols}) "
                    f"WHERE s.trip_id NOT IN (SELECT trip_id FROM {FACT})",
                ),
                "merge",
            )
        )
        sql = f"CALL system.rewrite_data_files(table => '{FACT}', target_num_files => 2)"
        cycle.append(Statement(sql, (), "rewrite_data_files"))
        sql = f"CALL system.expire_snapshots(table => '{FACT}', keep_last => 3)"
        cycle.append(Statement(sql, (), "expire_snapshots"))
        seq.extend(cycle)
    return seq


def reader_statement(rng: np.random.Generator, n: int) -> str:
    """The n-th read beside the writer: the literal is unique per read, so
    no statement repeats and the result cache never serves one."""
    k = int(rng.integers(1, N_ZONES + 1))
    lo = EPOCH_US + n * 1_000 + int(rng.integers(0, 1_000))
    if n % 3 == 0:
        return (
            "SELECT z.Borough AS borough, count(*) AS trips, sum(t.base_fare) AS fare "
            f"FROM {FACT} t JOIN nyc.taxi_zone_lookup z ON t.DOlocationID = z.LocationID "
            f"WHERE t.pickup_us >= {lo} GROUP BY z.Borough"
        )
    if n % 3 == 1:
        return (
            "SELECT count(*) AS n, sum(base_fare) AS fare, max(pickup_us) AS last_pickup "
            f"FROM {FACT} WHERE PUlocationID = {k} AND pickup_us >= {lo}"
        )
    return (
        "SELECT device, count(*) AS n, CAST(sum(tx_bytes) AS DECIMAL(38,0)) AS tx "
        f"FROM {COUNTERS} WHERE `timestamp` >= {lo} GROUP BY device"
    )


FINAL_CHECK_SQL = (
    "SELECT PUlocationID AS zone, count(*) AS n, sum(base_fare) AS fare, "
    "CAST(sum(trip_id) AS STRING) AS id_sum, CAST(max(trip_id) AS STRING) AS id_max, "
    f"sum(pickup_us - {EPOCH_US}) AS pickup_sum, sum(dropoff_us - pickup_us) AS dur_sum, "
    "count(SR_Flag) AS sr_n, count(DISTINCT dispatching_base_num) AS bases "
    f"FROM {FACT} GROUP BY PUlocationID"
)
