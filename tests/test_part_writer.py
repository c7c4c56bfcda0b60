"""One part writer (engine.write_part): every write path stamps its
chunk rows' `part_id` with the manifest key, numbers chunks 0..n-1 and
records the same manifest entry — and the delete scoping and aggregate
pushdowns that read `part_id` stay exact after compaction."""

import os
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_spark.corpus import CORPUS_DDL, gen_corpus
from parquet_spark.engine import decode_chunk
from parquet_spark.manifest import (EncodedTable, compact_small_parts,
                                    compact_table, count_where,
                                    delete_rows, minmax_where,
                                    read_decoded, relocate_table,
                                    rewrite_table, scan_table, sum_where,
                                    write_encoded)

ENTRY_KEYS = {"file", "n_chunks", "n_rows", "bytes_in", "bytes_out",
              "wall_ms", "cpu_ms", "codecs", "zones", "file_hash"}


def _corpus(spark, n=400, seed=5):
    return (gen_corpus(spark, n, seed=seed, parts=2)
            .withColumn("n_chars", F.length("text").cast("long")))


@pytest.mark.spark
def test_delete_after_compaction_hides_every_deleted_row(spark):
    df = _corpus(spark)
    path = tempfile.mkdtemp(prefix="pw_del_")
    write_encoded(df, path, key=["url"], n_parts=4)
    compact_table(spark, path, target_parts=1)
    urls = [r.url for r in df.select("url").orderBy("url").limit(50)
            .collect()]
    n_del = df.where(F.col("url").isin(urls)).count()
    delete_rows(spark, path, [("url", "in", urls)])
    left = read_decoded(spark, path)
    assert left.where(F.col("url").isin(urls)).count() == 0
    assert left.count() == df.count() - n_del


@pytest.mark.spark
def test_pushdowns_after_compaction_match_scan(spark):
    df = _corpus(spark)
    path = tempfile.mkdtemp(prefix="pw_agg_")
    write_encoded(df, path, key=["url"], n_parts=4, bloom_cols=["url"],
                  rows_per_chunk=50)
    # a url that lives in old part 3: after compaction its chunk still
    # read part_id 3 while the only manifest key was 0
    first = pq.read_table(EncodedTable(path).current_snapshot()
                          ["parts"]["3"]["file"]).to_pylist()[0]
    url = decode_chunk(first["schema_ipc"], first["names"],
                       first["payloads"]).column("url")[0].as_py()
    compact_table(spark, path, target_parts=1)
    pred = [("url", "=", url), ("lang", "notnull", None)]
    want = scan_table(spark, path, pred)
    n = want.count()
    assert n == df.where((F.col("url") == url)
                         & F.col("lang").isNotNull()).count() == 1
    assert count_where(spark, path, pred) == n
    assert sum_where(spark, path, "n_chars", pred) == \
        want.agg(F.sum("n_chars")).head()[0]
    mm = minmax_where(spark, path, pred, ["n_chars"])
    lo, hi = want.agg(F.min("n_chars"), F.max("n_chars")).head()
    assert mm["n_rows"] == n
    assert (mm["cols"]["n_chars"]["min"],
            mm["cols"]["n_chars"]["max"]) == (lo, hi)


def _written(spark, df, path):
    write_encoded(df, path, key=["url"], n_parts=4, rows_per_chunk=60)
    return path


def _splits(spark, df, path):
    from parquet_spark.splits import write_encoded_splits
    src = tempfile.mkdtemp(prefix="pw_src_")
    df.drop("n_chars").repartition(3).write.mode("overwrite").parquet(src)
    write_encoded_splits(spark, src, path, rows_per_chunk=60)
    return path


def _ds_batch(spark, df, path):
    from parquet_spark.datasource import register
    register(spark)
    (df.repartition(3).write.format("parquet_spark").option("key", "url")
     .option("rows_per_chunk", "60").mode("append").save(path))
    return path


def _ds_stream(spark, df, path):
    from parquet_spark.datasource import register
    from parquet_spark.streaming import file_stream
    register(spark)
    src = tempfile.mkdtemp(prefix="pw_ssrc_")
    df.drop("n_chars").write.parquet(os.path.join(src, "f1.parquet"))
    q = (file_stream(spark, src, CORPUS_DDL)
         .writeStream.format("parquet_spark").option("key", "url")
         .option("rows_per_chunk", "60")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="pw_ck_"))
         .trigger(availableNow=True).start(path))
    q.awaitTermination(120)
    return path


def _compacted(rechunk):
    def run(spark, df, path):
        _written(spark, df, path)
        compact_table(spark, path, target_parts=2, rechunk=rechunk)
        return path
    return run


def _binpacked(spark, df, path):
    _written(spark, df, path)
    before = EncodedTable(path).current_snapshot()["snapshot_id"]
    snap = compact_small_parts(spark, path, small_bytes=1 << 30,
                               target_bytes=1 << 30)
    assert snap["snapshot_id"] == before + 1
    return path


def _rewritten(spark, df, path):
    _written(spark, df, path)
    delete_rows(spark, path, [("lang", "=", "en")])
    rewrite_table(spark, path)
    return path


def _relocated(spark, df, path):
    src = _written(spark, df, tempfile.mkdtemp(prefix="pw_rsrc_"))
    relocate_table(spark, src, path, n_parts=3)
    return path


@pytest.mark.spark
@pytest.mark.parametrize("writer", [
    _written, _splits, _ds_batch, _ds_stream, _compacted(False),
    _compacted(True), _binpacked, _rewritten, _relocated],
    ids=["write_encoded", "write_encoded_splits", "datasource_batch",
         "datasource_stream", "compact", "compact_rechunk",
         "compact_small_parts", "rewrite_table", "relocate_table"])
def test_every_writer_stamps_part_ids_and_records_one_entry(spark, writer):
    path = writer(spark, _corpus(spark, 300, seed=11),
                  tempfile.mkdtemp(prefix="pw_inv_"))
    parts = EncodedTable(path).current_snapshot()["parts"]
    assert parts
    for pid, entry in parts.items():
        assert ENTRY_KEYS <= set(entry), (pid, sorted(entry))
        assert entry["zones"] and entry["cpu_ms"] >= 0
        ids = pq.read_table(entry["file"], columns=["part_id", "chunk_id"])
        assert ids.column("part_id").to_pylist() == [int(pid)] * len(ids)
        assert ids.column("chunk_id").to_pylist() == list(range(len(ids)))
        assert entry["n_chunks"] == len(ids)


def test_datasource_reader_prunes_chunks_by_bloom(tmp_path):
    """Spark-free: _read_part_file tests each chunk's url Bloom filter
    for a string equality, decoding fewer chunks than the same part with
    its blooms stripped, with the same matching rows."""
    import numpy as np
    import pyarrow as pa

    from parquet_spark.corpus import gen_batch
    from parquet_spark.datasource import _read_part_file
    from parquet_spark.engine import encode_part, part_clock, write_part
    batch = gen_batch(np.arange(2000), seed=3)
    since = part_clock()
    # rows in id order: every 100-row chunk spans most of the url range,
    # so only the Bloom filter can skip chunks for a url equality
    chunks = list(encode_part([batch], 0, rows_per_chunk=100,
                              zone_key="warc_ts", bloom_cols=["url"]))
    bloomed = str(tmp_path / "bloom.parquet")
    write_part(chunks, 0, bloomed, since)
    t = pq.read_table(bloomed)
    i = t.schema.get_field_index("bloom_cols")
    stripped = str(tmp_path / "stripped.parquet")
    no_blooms = pa.array([[]] * len(t), t.schema.field(i).type)
    pq.write_table(t.set_column(i, t.schema.field(i), no_blooms), stripped)
    state = {"schema_ipc": batch.schema.serialize().to_pybytes(),
             "gdicts": {}, "renames": {}}
    url = batch.column("url")[1234].as_py()
    pred = [("url", "=", url)]

    def read(f):
        out = list(_read_part_file(f, state, pred))
        rows = pa.Table.from_batches(out)
        hits = rows.filter(pa.compute.equal(rows.column("url"), url))
        return len(out), hits.to_pylist()

    n_bloom, rows_bloom = read(bloomed)
    n_full, rows_full = read(stripped)
    assert n_bloom < n_full
    assert rows_bloom == rows_full and len(rows_full) == 1
