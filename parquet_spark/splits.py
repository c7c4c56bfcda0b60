"""Split-based (scan-stage) encoding: workers read parquet row groups
directly and encode in place — no raw-data shuffle, no JVM->Python pipe.

This is the 100 TB throughput path.  The driver reads only parquet
FOOTERS to enumerate row-group splits (O(files), metadata-sized); each
task opens its split with pyarrow (C++ reader), encodes it with the same
per-partition codec auto-selection as `engine.encode_table`, and either
returns chunk rows or writes the encoded part file worker-side and
returns a lineage row only.  Pipe traffic is descriptors in, lineage
out — the job is CPU-bound per core and scales with executors, unlike
shuffling the raw table through the executor JVMs.

The hash/range-layout path (`engine.encode_table`,
`manifest.write_encoded`) remains the tool when the TABLE LAYOUT must
change (url-hash range ownership for pruning/joins); this module is the
tool when throughput matters and the input layout is acceptable — the
same split a production ingest job would make.

Reference parity: the reference also encodes rows in arrival order with
no reshuffle (results stream straight into the columnar cache,
/root/reference/Parquet.Core/Fragment.cs:129-168); split = fragment,
row group = chunk.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .engine import (DEFAULT_ROWS_PER_CHUNK, ENCODED_DDL, PART_DDL,
                     _chunk_rows_to_batch, encode_part, part_clock,
                     part_entries, part_row, write_part)
from .manifest import EncodedTable, _check_resume_layout

SPLIT_DDL = "split_id bigint, file string, row_group int, n_rows bigint"


def list_splits(input_path: str) -> list[dict]:
    """One split per parquet row group, from footers only (driver-side)."""
    if os.path.isdir(input_path):
        files = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(input_path) for f in fs
            if f.endswith(".parquet") and not f.startswith("."))
    else:
        files = [input_path]
    splits, sid = [], 0
    for path in files:
        md = pq.read_metadata(path)
        for rg in range(md.num_row_groups):
            splits.append({"split_id": sid, "file": path, "row_group": rg,
                           "n_rows": md.row_group(rg).num_rows})
            sid += 1
    return splits


def _split_df(spark: SparkSession, splits: list[dict],
              n_tasks: int | None = None) -> DataFrame:
    n_tasks = min(n_tasks or spark.sparkContext.defaultParallelism,
                  max(1, len(splits)))
    # round-robin, NOT hash-repartition on split_id: hashing n ids into
    # n tasks collides (birthday bound) and leaves some tasks 3-4 splits
    # while others idle; round-robin is exactly even, and chunk identity
    # (part_id = split_id) never depends on task placement
    return spark.createDataFrame(splits, schema=SPLIT_DDL) \
        .repartition(n_tasks)


def _normalize_schema(schema: pa.Schema) -> pa.Schema:
    """Map pyarrow-read types Spark's Arrow bridge rejects: INT96
    timestamps surface as timestamp[ns] -> cast to Spark's micros."""
    fields = []
    for f in schema:
        t = f.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            t = pa.timestamp("us", tz=t.tz)
        fields.append(pa.field(f.name, t, f.nullable))
    return pa.schema(fields)


def _encode_split(d: dict, codec: str, rows_per_chunk: int,
                  block_codec: str = "auto") -> Iterator[dict]:
    """Read one split and encode it chunk-by-chunk (runs in the
    worker); the zone key is the first string column.  An empty row
    group still yields one (empty) chunk."""
    tbl = pq.ParquetFile(d["file"]).read_row_group(d["row_group"])
    norm = _normalize_schema(tbl.schema)
    if norm != tbl.schema:
        tbl = tbl.cast(norm)
    zone_key = next((f.name for f in tbl.schema
                     if pa.types.is_string(f.type)), None)
    batches = tbl.to_batches() or [
        pa.RecordBatch.from_pylist([], schema=tbl.schema)]
    return encode_part(batches, d["split_id"], codec, rows_per_chunk,
                       zone_key=zone_key, block_codec=block_codec)


def encode_splits(spark: SparkSession, input_path: str,
                  n_tasks: int | None = None, codec: str = "auto",
                  rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                  block_codec: str = "auto") -> DataFrame:
    """Encoded chunk rows, produced scan-side (narrow; no raw shuffle)."""
    from .codecs.column import validate_block_codec
    validate_block_codec(block_codec)
    splits = list_splits(input_path)

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for d in batch.to_pylist():
                for chunk in _encode_split(d, codec, rows_per_chunk,
                                           block_codec=block_codec):
                    yield _chunk_rows_to_batch([chunk])

    return _split_df(spark, splits, n_tasks).mapInArrow(enc, ENCODED_DDL)


def write_encoded_splits(spark: SparkSession, input_path: str,
                         table_path: str, n_tasks: int | None = None,
                         codec: str = "auto",
                         rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                         limit_parts: int | None = None,
                         block_codec: str = "auto",
                         backend=None,
                         checkpoint_every: int | None = None) -> dict:
    """Scan-side encode + worker-side part-file write + manifest commit.

    part == split (one encoded file per input row group).  Resume
    identity is the stable (src_file, src_row_group) pair recorded in
    each part's committed lineage — NOT the ordinal split id — so input
    directories that grow (new files sorting before existing ones) or
    re-enumerate differently between runs can never silently skip or
    duplicate data; new splits get fresh part ids after the committed
    maximum.

    ``checkpoint_every=K`` commits the manifest after every K completed
    parts instead of once at job end: a run killed mid-job (SIGKILL, OOM,
    preemption) resumes from the last COMMITTED checkpoint, re-encoding
    at most K-1 parts plus the in-flight batch — the north-rule contract
    ("jobs checkpoint ... so a killed run resumes from the last committed
    partition", BASELINE.json:6).  Each checkpoint is one Spark job + one
    CAS commit, so pick K large at scale (commits are metadata-sized);
    ``None`` (default) keeps the single-commit fast path.  Data files of
    the killed in-flight batch are orphans by construction (unique
    per-attempt names, never referenced by any snapshot) — ``fsck`` /
    ``vacuum`` reclaim them."""
    from .codecs.column import validate_block_codec
    validate_block_codec(block_codec)
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    layout = {"mode": "splits", "rows_per_chunk": rows_per_chunk}
    _check_resume_layout(parent, layout, table_path)
    committed = table.committed_parts()
    done: dict[tuple[str, int], int] = {}
    for pid, p in committed.items():
        if "src_file" not in p:
            raise ValueError(
                f"cannot resume onto {table_path}: committed parts lack "
                "src_file/src_row_group lineage (written by an older "
                "build whose resume identity was the ordinal split id); "
                "re-ingest into a fresh table")
        done[(p["src_file"], int(p["src_row_group"]))] = int(pid)
    next_pid = max((int(p) for p in committed), default=-1) + 1
    splits = []
    for s in list_splits(input_path):
        if (s["file"], s["row_group"]) in done:
            continue
        s["split_id"] = next_pid
        next_pid += 1
        splits.append(s)
    if limit_parts is not None:
        splits = splits[:limit_parts]
    if checkpoint_every is not None and checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1 (or None)")
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    # unique per write attempt: concurrent writers must never share file
    # names (the CAS on CURRENT protects the snapshot chain, not paths)
    token = uuid.uuid4().hex[:12]

    def writer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for d in batch.to_pylist():
                since = part_clock()
                chunks = list(_encode_split(d, codec, rows_per_chunk,
                                            block_codec=block_codec))
                pid = d["split_id"]
                final = os.path.join(data_dir,
                                     f"part-{pid:05d}-{token}.parquet")
                # the source (file, row_group) rides in the entry:
                # resume identity is CONTENT-based, not ordinal, so
                # directory growth/reordering between runs can never
                # make a part id silently point at different data
                yield part_row(pid, write_part(
                    chunks, pid, final, since, src_file=d["file"],
                    src_row_group=d["row_group"]))

    schema_ipc = None
    if splits:
        first = _normalize_schema(pq.ParquetFile(splits[0]["file"]).schema_arrow)
        schema_ipc = first.serialize().to_pybytes()
    base_meta = {"mode": "splits", "input": input_path, "layout": layout,
                 "codec": codec, "block_codec": block_codec,
                 "rows_per_chunk": rows_per_chunk}
    if not splits:
        return table.commit(dict(committed), schema_ipc, parent,
                            meta={**base_meta, "new_parts": []})

    batch_size = checkpoint_every or len(splits)
    all_parts = dict(committed)
    snap = None
    for lo in range(0, len(splits), batch_size):
        batch = splits[lo:lo + batch_size]
        parts = part_entries(_split_df(spark, batch, n_tasks)
                             .mapInArrow(writer, PART_DDL).collect())
        all_parts = {**all_parts, **parts}
        meta = {**base_meta, "new_parts": sorted(int(k) for k in parts)}
        if checkpoint_every:
            meta["checkpoint"] = {"parts_done": lo + len(batch),
                                  "parts_total": len(splits)}
        # checkpoint commit: CAS against the previous checkpoint's
        # snapshot — the commit point a killed run resumes from
        snap = table.commit(all_parts, schema_ipc, parent, meta=meta)
        parent, schema_ipc = snap, None  # later commits inherit schema
    return snap
