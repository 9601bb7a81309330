"""`pyavro` — a full Python DataSource (Spark 4 API) over the
from-scratch avro codec (catalog/avro_io.py).

The reference's Spark distribution serves `USING avro` through its
Thrift server (entrypoint-spark.sh:73); this container has no
spark-avro jar, so ingest/avro_source.py provides the codec via
mapInPandas helpers.  This module lifts that codec into a *first-class
format*: after ``register(spark)``,

- ``spark.read.format("pyavro").load(dir)`` — batch scan with real
  split planning (one InputPartition per OCF file) and filter pushdown
  (simple comparisons are applied during decode, so non-matching rows
  never cross the Python→JVM boundary),
- ``df.write.format("pyavro").save(dir)`` — two-phase-commit batch
  sink: tasks write ``_tmp-*`` files, the driver commit renames them to
  ``part-NNNNN.avro`` (task retries/speculation can never publish
  partial output),
- ``spark.readStream.format("pyavro")`` — micro-batch source over an
  append-only directory with file-count offsets (checkpoint-resumable,
  each batch's files decoded in executors, not on the driver — this is
  the ``DataSourceStreamReader`` plan-partitions variant, not the
  driver-side Simple reader),
- ``df.writeStream.format("pyavro")`` — streaming sink, one avro file
  per epoch+task, published only in ``commit``.

Scale notes.  Split planning is per-file because an OCF file is the
self-describing decode unit (header carries the schema; avro is a row
format with no column pruning), matching how spark-avro itself splits
small files; the read path is executor-parallel with no driver data
motion.  The streaming offset is a monotone file count — the directory
contract (documented on the reader) is append-only with
sort-monotone names, exactly what the batch sink produces.  Filter
pushdown happens inside the decode loop: at 100 TB a selective
predicate cuts Arrow/pickle transfer proportionally, the same lever as
parquet PushedFilters (stats-based whole-file skipping would need a
footer we don't write — documented, not faked).
"""

from __future__ import annotations

import datetime
import glob as _glob
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,  # noqa: F401 — kept for API parity/reference
    DataSourceWriter,  # noqa: F401
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from iceberg_metadata_pipeline_spark.catalog import avro_io
from iceberg_metadata_pipeline_spark.ingest.avro_source import (
    _EPOCH_DATE,
    _EPOCH_TS,
    _branch,
    avro_schema_to_spark,
    spark_schema_to_avro,
)

_PART_GLOB = "part-*.avro"


def _list_avro(path: str) -> list[str]:
    """Visible ``*.avro`` files under ``path``, name-sorted. Hidden
    files (leading ``_`` or ``.`` — Hadoop's hiddenFileFilter
    convention) are excluded so the sinks' in-flight ``_tmp-*.avro``
    never leak into a scan: ``_tmp-`` sorts before ``part-``, so
    counting them would shift the streaming file-count offset across a
    commit (double reads), and crashed writers' leftovers would read as
    data."""
    return sorted(
        p
        for p in _glob.glob(os.path.join(path, "*.avro"))
        if not os.path.basename(p).startswith(("_", "."))
    )


def _local(path: str) -> str:
    return path[len("file:") :] if path.startswith("file:") else path


def _decode_record(rec: dict, names: list[str], logical: dict[str, str | None]):
    """One avro record dict → a tuple in schema order, logical types
    rendered as the python values Spark expects (date / naive datetime)."""
    out = []
    for n in names:
        v = rec.get(n)
        if v is not None:
            lt = logical[n]
            if lt == "date":
                v = _EPOCH_DATE + datetime.timedelta(days=v)
            elif lt == "timestamp-micros":
                v = _EPOCH_TS + datetime.timedelta(microseconds=v)
            elif lt == "timestamp-millis":
                v = _EPOCH_TS + datetime.timedelta(milliseconds=v)
        out.append(v)
    return tuple(out)


# --- filter pushdown --------------------------------------------------

_COMPARATORS = {
    EqualTo: lambda v, x: v is not None and v == x,
    GreaterThan: lambda v, x: v is not None and v > x,
    GreaterThanOrEqual: lambda v, x: v is not None and v >= x,
    LessThan: lambda v, x: v is not None and v < x,
    LessThanOrEqual: lambda v, x: v is not None and v <= x,
}


def _compile_filter(f):
    """A pushed Filter → row-predicate over the decoded record dict, or
    None if this filter shape isn't handled here (Spark then applies it
    post-scan — correctness never depends on pushdown)."""
    if isinstance(f, IsNull) and len(f.attribute) == 1:
        col = f.attribute[0]
        return lambda rec: rec.get(col) is None
    if isinstance(f, IsNotNull) and len(f.attribute) == 1:
        col = f.attribute[0]
        return lambda rec: rec.get(col) is not None
    if isinstance(f, In) and len(f.attribute) == 1:
        col = f.attribute[0]
        vals = set(f.value)
        return lambda rec: rec.get(col) in vals
    for ftype, cmp in _COMPARATORS.items():
        if type(f) is ftype and len(f.attribute) == 1:
            col, x = f.attribute[0], f.value
            return lambda rec: cmp(rec.get(col), x)
    return None


_ARROW_COMPARATORS = {
    EqualTo: "equal",
    GreaterThan: "greater",
    GreaterThanOrEqual: "greater_equal",
    LessThan: "less",
    LessThanOrEqual: "less_equal",
}


def _compile_filter_arrow(f):
    """The SAME filter shapes as :func:`_compile_filter`, vectorized:
    pushed Filter → (batch → boolean mask) over decoded Arrow batches.
    Null comparisons yield null, which the caller fills to False — the
    row drops, identical to the record-predicate semantics."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, IsNull) and len(f.attribute) == 1:
        col = f.attribute[0]
        return lambda b: pc.is_null(b.column(col))
    if isinstance(f, IsNotNull) and len(f.attribute) == 1:
        col = f.attribute[0]
        return lambda b: pc.is_valid(b.column(col))
    if isinstance(f, In) and len(f.attribute) == 1:
        col = f.attribute[0]
        vals = list(f.value)
        return lambda b: pc.is_in(b.column(col), value_set=pa.array(vals))
    for ftype, op in _ARROW_COMPARATORS.items():
        if type(f) is ftype and len(f.attribute) == 1:
            col, x = f.attribute[0], f.value
            return lambda b, op=op, col=col, x=x: getattr(pc, op)(
                b.column(col), x
            )
    return None


@dataclass
class AvroFilePartition(InputPartition):
    path: str


class PyAvroBatchReader(DataSourceReader):
    """One InputPartition per OCF file. Each file decodes through the
    vectorized Arrow codec (ingest/avro_vector.py, optimization r13) and
    is yielded as one Arrow record batch; pushed filters apply as
    vectorized masks before the batch crosses to the JVM. Files with
    schemas outside the flat subset fall back to the per-record
    reference decoder with the equivalent row predicates."""

    def __init__(self, options):
        self.path = _local(options["path"])
        files = _list_avro(self.path)
        if not files:
            raise FileNotFoundError(f"no .avro files under {self.path}")
        self.files = files
        schema, _, _ = avro_io.read_container(files[0], header_only=True)
        self.avro_schema = schema
        self.names = [f["name"] for f in schema["fields"]]
        self.logical = {f["name"]: _branch(f["type"])[1] for f in schema["fields"]}
        self.predicates: list = []
        self.arrow_predicates: list = []

    def pushFilters(self, filters):
        rest = []
        for f in filters:
            pred = _compile_filter(f)
            apred = _compile_filter_arrow(f)
            if pred is None or apred is None:
                rest.append(f)  # same object by reference, per contract
            else:
                self.predicates.append(pred)
                self.arrow_predicates.append(apred)
        return rest

    def read(self, partition: AvroFilePartition):
        from iceberg_metadata_pipeline_spark.ingest import avro_vector
        from iceberg_metadata_pipeline_spark.ingest.avro_source import (
            check_schema_match,
        )

        check_schema_match(self.avro_schema, partition.path)
        try:
            _, _, batch = avro_vector.read_ocf_arrow(partition.path)
        except ValueError:
            yield from self._read_rows(partition)
            return
        if self.arrow_predicates:
            import pyarrow.compute as pc

            mask = None
            for apred in self.arrow_predicates:
                m = apred(batch)
                mask = m if mask is None else pc.and_kleene(mask, m)
            batch = batch.filter(pc.fill_null(mask, False))
        yield batch

    def _read_rows(self, partition: AvroFilePartition):
        _, _, records = avro_io.read_container(partition.path)
        preds = self.predicates
        for rec in records:
            if all(p(rec) for p in preds):
                yield _decode_record(rec, self.names, self.logical)

    def partitions(self):
        return [AvroFilePartition(p) for p in self.files]


@dataclass
class AvroCommit(WriterCommitMessage):
    tmp_path: str
    rows: int


class PyAvroBatchWriter(DataSourceArrowWriter):
    """Two-phase commit: tasks write ``_tmp-<uuid>.avro``; only the
    driver-side ``commit`` publishes them as ``part-NNNNN.avro`` (and,
    for overwrite mode, removes prior part files) — a failed or
    speculative task can never leave a visible partial file.

    Arrow-native (optimization r13): tasks receive Arrow record batches
    and encode them column-wise (ingest/avro_vector.py) — byte-identical
    container output to the previous per-Row ``write_datum`` loop."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self.dest = _local(options["path"])
        self.overwrite = overwrite
        self.avro_schema = spark_schema_to_avro(schema)
        os.makedirs(self.dest, exist_ok=True)

    def write(self, iterator):
        from iceberg_metadata_pipeline_spark.ingest import avro_vector

        plan = avro_vector.compile_plan(self.avro_schema)
        if plan is None:  # spark_schema_to_avro only emits the flat subset
            raise ValueError(
                f"pyavro writer: unsupported schema {self.avro_schema}"
            )
        bodies, count = [], 0
        for batch in iterator:
            body, _ = avro_vector.encode_batch(plan, batch)
            bodies.append(body)
            count += batch.num_rows
        tmp = os.path.join(self.dest, f"_tmp-{uuid.uuid4().hex}.avro")
        avro_vector.write_ocf(tmp, self.avro_schema, bodies, count)
        return AvroCommit(tmp_path=tmp, rows=count)

    def commit(self, messages):
        if self.overwrite:
            for old in _glob.glob(os.path.join(self.dest, _PART_GLOB)):
                os.remove(old)
        # append mode continues numbering after the existing max part —
        # renaming onto part-00000 would silently clobber a prior write
        existing = _glob.glob(os.path.join(self.dest, _PART_GLOB))
        base = (
            max(int(os.path.basename(p)[5:10]) for p in existing) + 1
            if existing
            else 0
        )
        for i, m in enumerate(sorted(messages, key=lambda m: m.tmp_path)):
            os.rename(
                m.tmp_path, os.path.join(self.dest, f"part-{base + i:05d}.avro")
            )

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class PyAvroStreamReader(DataSourceStreamReader):
    """Micro-batch source over an append-only directory.

    Offset = ``{"n": <file count>}`` over the name-sorted ``*.avro``
    listing.  Directory contract: files are immutable once visible and
    names are sort-monotone (part-00000 < part-00001 < …, what the
    pyavro sinks emit), so ``sorted(files)[start:end]`` identifies each
    batch's files stably across restarts.  Each file decodes in an
    executor task (this is the partition-planning reader; the Simple
    variant would funnel every byte through the driver)."""

    def __init__(self, schema: StructType, options):
        self.path = _local(options["path"])
        self.names = [f.name for f in schema.fields]
        # logical types recovered from the declared Spark schema (files
        # may not exist yet when the stream starts)
        self.logical = {
            f.name: {
                "date": "date",
                "timestamp": "timestamp-micros",
                "timestamp_ntz": "timestamp-micros",
            }.get(f.dataType.simpleString())
            for f in schema.fields
        }

    def _files(self) -> list[str]:
        return _list_avro(self.path)

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()[start["n"] : end["n"]]
        return [AvroFilePartition(p) for p in files]

    def read(self, partition: AvroFilePartition):
        from iceberg_metadata_pipeline_spark.ingest import avro_vector

        try:
            _, _, batch = avro_vector.read_ocf_arrow(partition.path)
            # column order per the DECLARED schema (the batch reader gets
            # this from check_schema_match; a stream has no first-file)
            yield batch.select(self.names)
            return
        except (ValueError, KeyError):
            pass
        _, _, records = avro_io.read_container(partition.path)
        for rec in records:
            yield _decode_record(rec, self.names, self.logical)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to retire


class PyAvroStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: per-epoch two-phase commit. Tasks write
    ``_tmp-*``; ``commit(batchId)`` publishes ``part-<epoch>-NNNNN.avro``
    — names stay sort-monotone, so a pyavro stream reader can tail the
    output of a pyavro stream writer. Arrow-native like the batch
    writer (optimization r13)."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self.dest = _local(options["path"])
        self.avro_schema = spark_schema_to_avro(schema)
        os.makedirs(self.dest, exist_ok=True)

    def write(self, iterator):
        from iceberg_metadata_pipeline_spark.ingest import avro_vector

        plan = avro_vector.compile_plan(self.avro_schema)
        if plan is None:
            raise ValueError(
                f"pyavro stream writer: unsupported schema {self.avro_schema}"
            )
        bodies, count = [], 0
        for batch in iterator:
            body, _ = avro_vector.encode_batch(plan, batch)
            bodies.append(body)
            count += batch.num_rows
        tmp = os.path.join(self.dest, f"_tmp-{uuid.uuid4().hex}.avro")
        avro_vector.write_ocf(tmp, self.avro_schema, bodies, count)
        return AvroCommit(tmp_path=tmp, rows=count)

    def commit(self, messages, batchId: int) -> None:
        for i, m in enumerate(sorted(messages, key=lambda m: m.tmp_path)):
            os.rename(
                m.tmp_path,
                os.path.join(self.dest, f"part-{batchId:08d}-{i:05d}.avro"),
            )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class PyAvroDataSource(DataSource):
    """``spark.dataSource.register(PyAvroDataSource)`` → the "pyavro"
    format name works in batch read/write and readStream/writeStream."""

    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def schema(self):
        path = _local(self.options["path"])
        files = _list_avro(path)
        if not files:
            raise FileNotFoundError(
                f"pyavro: cannot infer schema, no .avro files under {path} "
                "(pass .schema(...) explicitly for an empty directory)"
            )
        schema, _, _ = avro_io.read_container(files[0])
        return avro_schema_to_spark(schema)

    def reader(self, schema: StructType) -> DataSourceReader:
        return PyAvroBatchReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return PyAvroBatchWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return PyAvroStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return PyAvroStreamWriter(schema, self.options, overwrite)


def register(spark) -> None:
    """Idempotent format registration (latest registration wins)."""
    spark.dataSource.register(PyAvroDataSource)


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_pyavro_datasource",
        """
SELECT o_orderpriority, COUNT(*) AS n,
  MIN(o_orderdate) AS first_date,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderkey % 4 = 0 AND o_orderstatus = 'F' AND o_totalprice > 1000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    )
    def source_pyavro_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batch round-trip through the registered ``pyavro`` format:
        df.write.format("pyavro") (two-phase commit) → spark.read
        .format("pyavro") with BOTH predicates pushed into the Python
        source (pushFilters consumes EqualTo + GreaterThan, so the
        decode loop drops non-matching rows before the JVM boundary) →
        aggregate. Proves the Spark 4 Python DataSource API end-to-end
        against the same oracle shape as source_avro_roundtrip."""
        import tempfile

        register(spark)
        # deterministic quarter-sample keeps the gate cost bounded while
        # still exercising the full write→read path (oracle applies the
        # same key filter)
        orders = (
            load_tables(spark, sf_dir)["orders"]
            .where(F.col("o_orderkey") % 4 == 0)
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_orderpriority",
                "o_orderdate",
                "o_totalprice",
            )
        )
        loc = tempfile.mkdtemp(prefix="pyavro-q-") + "/orders"
        orders.repartition(4).write.format("pyavro").mode("append").save(loc)
        back = (
            spark.read.format("pyavro")
            .load(loc)
            .where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000))
        )
        return (
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderdate").alias("first_date"),
                F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("o_orderpriority")
        )


_declare_queries()
