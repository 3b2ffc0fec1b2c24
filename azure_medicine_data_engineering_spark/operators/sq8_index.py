"""SQ8 index artifact export + re-ingest round trip (round 15 — the
third serving-artifact round trip after ARPA (`operators/arpa.py`) and
the GPT-2 tokenizer (`operators/tokenizer_io.py`): the retrieval index).

Artifact layout under ``out_dir``:

- ``codes-<pid 05d>.bin`` — the corpus-grain payload: fixed-width binary
  records of ``<q`` little-endian int64 vec_id + ``dim`` code bytes,
  range-partitioned on vec_id and sorted within shards (the ARPA section
  discipline: pid-ordered concatenation is the id-sorted index), each
  landed via attempt-unique tmp + atomic rename.
- ``index.json`` — written LAST (commit marker): dim, n_vecs,
  record_bytes, shard count, and the per-dimension [lo, hi] ranges as
  HEXFLOATS (``float.hex()``). Decimal float text cannot guarantee the
  bit-exact doubles the shared encode expression needs; hexfloat round
  trips every IEEE double exactly, so a query vector encoded against the
  re-ingested ranges produces byte-identical codes.

Both artifact halves are load-bearing in the round trip: corpus codes
come back FROM THE LANDED BINARY, and the query side is re-encoded from
raw embeddings against the PARSED ranges — a defect in record packing,
shard atomicity, hexfloat formatting, or parsing breaks an integer
distance exactly.

Re-expresses the FAISS-style serialized-index boundary (public concept;
reference repo has no ANN counterpart — scale extension, same class as
the WDS shard egress)."""

from __future__ import annotations

import json
import os
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from azure_medicine_data_engineering_spark.sources.readers import from_rows

INDEX_HEADER = "index.json"

_WRITE_SCHEMA = StructType(
    [
        StructField("pid", IntegerType()),
        StructField("n_records", LongType()),
    ]
)

_PARSE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("_c", ArrayType(LongType())),
    ]
)


def export_sq8_index(
    df: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shards: int = 4,
) -> dict:
    """Train the SQ8 quantizer on the corpus, land the binary code shards,
    then the header (commit marker). Returns the header dict."""
    from azure_medicine_data_engineering_spark.operators.similarity import (
        sq8_encode,
        sq8_ranges,
    )

    os.makedirs(out_dir, exist_ok=True)
    ranges_df = sq8_ranges(df, id_col, vec_col)
    # bounded: 2*d doubles — the quantizer's whole trained state
    ranges = {
        int(r["dim"]): (float(r["lo"]), float(r["hi"]))
        for r in ranges_df.collect()
    }
    dim = len(ranges)
    if sorted(ranges) != list(range(dim)):
        raise ValueError(f"non-contiguous dims in range table: {sorted(ranges)[:5]}...")
    coded = sq8_encode(df, ranges_df, id_col, vec_col)
    staged = coded.repartitionByRange(shards, id_col).sortWithinPartitions(
        id_col
    )

    def write(batches: Iterator) -> Iterator:
        import os as _os
        import uuid

        import pandas as pd

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = (
            str(ctx.taskAttemptId()) if ctx is not None else uuid.uuid4().hex
        )
        path = _os.path.join(out_dir, f"codes-{pid:05d}.bin")
        tmp = f"{path}.{attempt}.tmp"
        n = 0
        fh = None
        for pdf in batches:
            if fh is None:
                _os.makedirs(out_dir, exist_ok=True)
                fh = open(tmp, "wb")
            for vid, codes in zip(pdf[id_col], pdf["_c"]):
                fh.write(struct.pack("<q", int(vid)) + bytes(int(c) for c in codes))
                n += 1
        if fh is not None:
            fh.close()
            _os.replace(tmp, path)
        yield pd.DataFrame({"pid": [pid], "n_records": [n]})

    # NEVER persist this frame: its mapInPandas stage carries the shard
    # writes as side effects (the round-15 cache-substitution pitfall) —
    # collect() on the unpersisted frame forces every write per invocation,
    # and the atomic attempt-unique landing makes re-execution idempotent.
    report = staged.mapInPandas(write, _WRITE_SCHEMA).collect()
    n_vecs = sum(r["n_records"] for r in report)
    header = {
        "dim": dim,
        "n_vecs": int(n_vecs),
        "record_bytes": 8 + dim,
        "shards": len(report),
        "ranges": [
            [ranges[d][0].hex(), ranges[d][1].hex()] for d in range(dim)
        ],
    }
    hpath = os.path.join(out_dir, INDEX_HEADER)
    tmp = hpath + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(header, fh)
    os.replace(tmp, hpath)
    return header


def parse_sq8_index(
    spark: SparkSession, root: str
) -> tuple[DataFrame, list[tuple[float, float]], dict]:
    """Re-ingest the landed index: header (hexfloat ranges back to exact
    doubles), then the binary shards decoded in a distributed
    ``binaryFile`` pass — record framing validated per shard, total
    record count validated against the header. Returns
    ``(coded_df, ranges, header)``."""
    with open(os.path.join(root, INDEX_HEADER), encoding="utf-8") as fh:
        header = json.load(fh)
    dim, rec = int(header["dim"]), int(header["record_bytes"])
    if rec != 8 + dim:
        raise ValueError(f"record_bytes {rec} != 8 + dim {dim}")
    ranges = [
        (float.fromhex(lo), float.fromhex(hi)) for lo, hi in header["ranges"]
    ]

    files = spark.read.format("binaryFile").load(
        os.path.join(root, "codes-*.bin")
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, codes = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                if len(buf) % rec:
                    raise ValueError(
                        f"{path}: {len(buf)} bytes not a multiple of {rec}"
                    )
                for off in range(0, len(buf), rec):
                    (vid,) = struct.unpack_from("<q", buf, off)
                    ids.append(vid)
                    codes.append(
                        [int(b) for b in buf[off + 8 : off + rec]]
                    )
            yield pd.DataFrame({"vec_id": ids, "_c": codes})

    coded = files.select("path", "content").mapInPandas(decode, _PARSE_SCHEMA)
    n = coded.count()  # bounded 1-scalar validation action
    if n != int(header["n_vecs"]):
        raise ValueError(f"parsed {n} records, header says {header['n_vecs']}")
    return coded, ranges, header


def sq8_index_rescore(
    df: DataFrame,
    coded_rt: DataFrame,
    ranges_rt: list[tuple[float, float]],
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve the re-ingested index: query vectors are RE-ENCODED from raw
    embeddings against the PARSED hexfloat ranges (bit-identical doubles
    -> bit-identical codes), corpus codes come from the landed binary,
    and the scan is the shared salted two-stage top-k — output must equal
    the direct `sq8_knn_topk` exactly."""
    from azure_medicine_data_engineering_spark.operators.similarity import (
        sq8_encode,
        sq8_scan_topk,
    )

    spark = df.sparkSession
    ranges_df = from_rows(
        spark,
        [(d, lo, hi) for d, (lo, hi) in enumerate(ranges_rt)],
        "dim int, lo double, hi double",
    )
    q = (
        sq8_encode(
            df.where(F.col(id_col).isin(query_ids)), ranges_df, id_col, vec_col
        )
        .select(F.col(id_col).alias("query_id"), F.col("_c").alias("_qc"))
    )
    return sq8_scan_topk(coded_rt, q, k, id_col="vec_id")
