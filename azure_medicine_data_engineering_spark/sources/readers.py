"""Scan operators (SURVEY §2.1 S1-S4, S7, S8).

Parity notes (reference sites in /root/reference):
- S1/S2 ``myImportFile`` — ``notebooks/PhdProject/utils.scala:30-50``: tab-CSV,
  header, inferSchema. The reference re-infers on every read (a double scan per
  read); here inference is opt-in so production reads use a pinned schema.
- S4 catalog scan — ``stydyGrB.scala:15``.
- S7 local collection → DataFrame — ``utils.scala:164-165``.
- S8 temp-view registration — ``studyGrScalaA.scala:84``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = "\t",
    header: bool = True,
    schema: StructType | str | None = None,
    infer_schema: bool = True,
) -> DataFrame:
    """CSV/TSV scan. With ``schema`` given, the inference double-scan is
    skipped — the production path once a CleaningSpec has pinned types."""
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.load(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — the engine's primary ingress (filter pushdown + column
    pruning reach the footer for free)."""
    return spark.read.parquet(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Managed/catalog table scan (S4)."""
    return spark.read.table(name)


def from_rows(
    spark: SparkSession,
    rows: Iterable,
    schema: StructType | str,
) -> DataFrame:
    """Driver-side rows → DataFrame (S7): the library's one path for small
    metadata/config frames (division tables, report rows, catalog
    registrations, merge/vocab tables) — never for data-plane input.

    ``rows`` are positional tuples matching ``schema`` (a ``StructType`` or
    a DDL string). They become one ``pyarrow.Table`` typed by the schema,
    and ``spark.createDataFrame(table, schema)`` turns that into a local
    relation inside the JVM. A Python list would instead be parallelized
    into an RDD whose rows Python workers unpickle, a job's worth of
    overhead on every call. A value that does not fit its column type
    raises here, on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def register_view(df: DataFrame, name: str) -> DataFrame:
    """Make a frame SQL-addressable (S8); returns the frame for chaining."""
    df.createOrReplaceTempView(name)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-Lines scan — the de-facto interchange format for LLM training
    corpora (one document object per line). No reference twin (the
    reference's ingress is Excel→CSV); this is a scale-extension source.

    With ``schema`` given the inference double-scan is skipped (pin it in
    production — inference reads the whole corpus once before the real
    scan). ``mode``:

    - ``PERMISSIVE`` (default): malformed lines land in ``corrupt_col``
      (add it to the schema as string) instead of failing a 100 TB job —
      count them, report them, drop them;
    - ``DROPMALFORMED``: silently skip bad lines;
    - ``FAILFAST``: die on first bad line (CI ingest gates).
    """
    reader = (
        spark.read.format("json")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def register_seq_datasource(spark) -> None:
    """Register the ``amde_seq`` CUSTOM PYTHON DATA SOURCE (Spark 4's
    DataSource API — the pure-Python connector surface): a deterministic
    sequence source that plans ``parts`` input partitions and yields
    ``(id, h)`` rows with ``h = md5(id)``, round-robin across partitions.
    The shape every proprietary-record-format connector takes: options →
    partition planning → per-partition iterator; here the payload is
    deterministic so the oracle can recompute every row.

    Idempotent (re-registering overwrites)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SeqReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", "1000"))
            self.parts = int(options.get("parts", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            import hashlib

            start = partition.value
            for k in range(start, self.n, self.parts):
                yield (k, hashlib.md5(str(k).encode()).hexdigest())

    class SeqDataSource(DataSource):
        @classmethod
        def name(cls):
            return "amde_seq"

        def schema(self):
            return "id long, h string"

        def reader(self, schema):
            return SeqReader(self.options)

    spark.dataSource.register(SeqDataSource)
