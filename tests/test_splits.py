"""Split-based (scan-stage) encode path: correctness + resume.

Mirrors the reference's encode->decode round-trip oracle
(/root/reference/Parquet.Tests/ParquetFileTests.cs:134-172) on the
narrow, no-shuffle path.
"""

import os
import tempfile

import pytest

from tests.conftest import TESTDATA


@pytest.fixture(scope="module")
def corpus_path(spark):
    from parquet_spark.corpus import gen_corpus
    d = tempfile.mkdtemp(prefix="splits_corpus_")
    p = os.path.join(d, "corpus.parquet")
    gen_corpus(spark, 3000, seed=11, parts=3).write.mode("overwrite").parquet(p)
    return p


@pytest.mark.spark
def test_list_splits_covers_all_rows(spark, corpus_path):
    from parquet_spark.splits import list_splits
    splits = list_splits(corpus_path)
    assert len(splits) >= 3
    assert sum(s["n_rows"] for s in splits) == 3000
    assert [s["split_id"] for s in splits] == list(range(len(splits)))


@pytest.mark.spark
def test_encode_splits_roundtrip(spark, corpus_path):
    from parquet_spark.engine import decode_table
    from parquet_spark.splits import encode_splits
    from parquet_spark.verify import verify_roundtrip
    df = spark.read.parquet(corpus_path)
    enc = encode_splits(spark, corpus_path, n_tasks=4)
    dec = decode_table(enc)
    verify_roundtrip(df, dec, key=["url"], digest_col="text")


@pytest.mark.spark
def test_encode_splits_small_chunks(spark, corpus_path):
    from parquet_spark.splits import encode_splits
    enc = encode_splits(spark, corpus_path, n_tasks=2, rows_per_chunk=257)
    rows = enc.select("part_id", "chunk_id", "n_rows").collect()
    per_part = {}
    for r in rows:
        per_part.setdefault(r.part_id, []).append(r.chunk_id)
    for cids in per_part.values():
        assert sorted(cids) == list(range(len(cids)))  # sequential chunk ids


@pytest.mark.spark
def test_write_encoded_splits_resume(spark, corpus_path):
    from parquet_spark.manifest import read_decoded
    from parquet_spark.splits import list_splits, write_encoded_splits
    from parquet_spark.verify import verify_roundtrip
    df = spark.read.parquet(corpus_path)
    n_splits = len(list_splits(corpus_path))
    tbl = tempfile.mkdtemp(prefix="splits_tbl_")
    snap1 = write_encoded_splits(spark, corpus_path, tbl, limit_parts=1)
    assert len(snap1["parts"]) == 1
    snap2 = write_encoded_splits(spark, corpus_path, tbl)
    assert len(snap2["parts"]) == n_splits
    assert snap2["meta"]["new_parts"] == [
        s for s in range(n_splits) if s != snap1["meta"]["new_parts"][0]]
    dec = read_decoded(spark, tbl)
    verify_roundtrip(df, dec, key=["url"], digest_col="text")


@pytest.mark.spark
def test_write_encoded_splits_noop_when_done(spark, corpus_path):
    from parquet_spark.splits import write_encoded_splits
    tbl = tempfile.mkdtemp(prefix="splits_tbl2_")
    write_encoded_splits(spark, corpus_path, tbl)
    snap = write_encoded_splits(spark, corpus_path, tbl)  # nothing to do
    assert snap["meta"]["new_parts"] == []


@pytest.mark.spark
def test_encode_splits_on_documents_table(spark):
    from parquet_spark.engine import decode_table
    from parquet_spark.splits import encode_splits
    from parquet_spark.verify import verify_roundtrip
    p = f"{TESTDATA}/sf0.001/documents.parquet"
    df = spark.read.parquet(p)
    dec = decode_table(encode_splits(spark, p, n_tasks=2))
    verify_roundtrip(df, dec, key=["doc_id"], digest_col="text")


@pytest.mark.spark
def test_sorted_timestamps_get_delta_advantage(spark, corpus_path):
    """Splits mode preserves input (id/time) order, so warc_ts deltas are
    small and the int stream beats the unsorted hash layout on that
    column (FOR/DELTA engage; reference O13 analog)."""
    from pyspark.sql import functions as F

    from parquet_spark.engine import encode_table, encoding_stats
    from parquet_spark.splits import encode_splits

    def ts_bytes(enc):
        st = {r.column: r for r in encoding_stats(enc).collect()}
        assert st["warc_ts"].codec == "int"
        return st["warc_ts"].bytes_out

    splits_b = ts_bytes(encode_splits(spark, corpus_path, n_tasks=2))
    df = spark.read.parquet(corpus_path)
    hash_b = ts_bytes(encode_table(df, key=["url"], n_parts=2))
    # time-ordered chunks must compress the timestamp column materially
    # better than url-hash-scrambled chunks (margin grows with chunk
    # size; this fixture's chunks are only ~1k rows)
    assert splits_b < 0.8 * hash_b


@pytest.mark.spark
def test_compact_splits_table(spark, corpus_path):
    """Scan-stage tables compact like layout tables (O10/O11 merge)."""
    import tempfile

    from parquet_spark.manifest import (EncodedTable, compact_table,
                                        read_decoded)
    from parquet_spark.splits import write_encoded_splits
    from parquet_spark.verify import verify_roundtrip
    df = spark.read.parquet(corpus_path)
    tbl = tempfile.mkdtemp(prefix="splits_compact_")
    write_encoded_splits(spark, corpus_path, tbl)
    n_before = len(EncodedTable(tbl).data_files())
    assert n_before >= 3
    compact_table(spark, tbl, target_parts=1)
    assert len(EncodedTable(tbl).data_files()) == 1
    verify_roundtrip(df, read_decoded(spark, tbl),
                     key=["url"], digest_col="text")


@pytest.mark.spark
def test_checkpoint_every_commits_incrementally(spark, corpus_path):
    """checkpoint_every=K produces one CAS commit per K parts, each a
    valid resume point with per-batch new_parts changelog rows (the
    north-rule checkpoint contract, BASELINE.json:6)."""
    from parquet_spark.manifest import EncodedTable, read_decoded
    from parquet_spark.splits import list_splits, write_encoded_splits
    from parquet_spark.verify import verify_roundtrip
    n_splits = len(list_splits(corpus_path))
    assert n_splits >= 3
    tbl = tempfile.mkdtemp(prefix="splits_ckpt_")
    snap = write_encoded_splits(spark, corpus_path, tbl, checkpoint_every=2)
    assert len(snap["parts"]) == n_splits
    hist = EncodedTable(tbl).history()
    import math
    assert len(hist) == math.ceil(n_splits / 2)
    seen = []
    for h in hist:
        assert h["meta"]["checkpoint"]["parts_total"] == n_splits
        assert len(h["meta"]["new_parts"]) <= 2
        seen += h["meta"]["new_parts"]
        # every checkpoint is a coherent resume point: parts present ==
        # checkpoint progress counter
        assert len(h["parts"]) == h["meta"]["checkpoint"]["parts_done"]
    assert sorted(seen) == list(range(n_splits))  # disjoint, complete
    df = spark.read.parquet(corpus_path)
    verify_roundtrip(df, read_decoded(spark, tbl),
                     key=["url"], digest_col="text")


_KILL_JOB = r"""
import sys
sys.path.insert(0, sys.argv[3])
from parquet_spark import tune_malloc_for_workers
tune_malloc_for_workers()
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .appName("kill_resume_job")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "4g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from parquet_spark.splits import write_encoded_splits
# gzip:9 slows per-part encode so the parent reliably kills mid-run;
# checkpoint_every=1 commits after every part
write_encoded_splits(spark, sys.argv[1], sys.argv[2], n_tasks=1,
                     checkpoint_every=1, block_codec="gzip:9")
print("JOB_COMPLETED", flush=True)
spark.stop()
"""


@pytest.mark.spark
@pytest.mark.slow
def test_sigkill_mid_run_resumes_from_last_checkpoint(spark, tmp_path):
    """The north-rule kill contract, end-to-end with a REAL SIGKILL: a
    checkpointing encode job killed mid-run leaves a committed prefix;
    a plain re-run resumes from it (committed part files untouched,
    byte-for-byte), finishes the remainder, and the table round-trips
    bit-identical."""
    import signal
    import subprocess
    import sys
    import time

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import EncodedTable, read_decoded
    from parquet_spark.splits import list_splits, write_encoded_splits
    from parquet_spark.verify import verify_roundtrip

    src = str(tmp_path / "corpus.parquet")
    gen_corpus(spark, 12000, seed=23, parts=12).write.parquet(src)
    n_splits = len(list_splits(src))
    assert n_splits >= 12
    tbl = str(tmp_path / "table")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", _KILL_JOB, src, tbl, repo],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    try:
        table = EncodedTable(tbl)
        deadline = time.monotonic() + 180
        while time.monotonic() < deadline:
            if proc.poll() is not None:
                pytest.fail("encode job finished before the kill landed "
                            "— enlarge the corpus")
            snap = table.current_snapshot()
            if snap and len(snap["parts"]) >= 2:
                break
            time.sleep(0.03)
        else:
            pytest.fail("no checkpoint observed within 180s")
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()
    snap_kill = EncodedTable(tbl).current_snapshot()
    committed = snap_kill["parts"]
    assert 2 <= len(committed) < n_splits  # a genuine mid-run kill
    frozen = {p["file"]: (os.path.getsize(p["file"]),
                          os.stat(p["file"]).st_mtime_ns)
              for p in committed.values()}

    # resume: same call, no kill — picks up at the committed prefix
    snap = write_encoded_splits(spark, src, tbl, n_tasks=2,
                                checkpoint_every=None,
                                block_codec="gzip:9")
    assert len(snap["parts"]) == n_splits
    assert set(snap["meta"]["new_parts"]).isdisjoint(
        int(k) for k in committed)
    for f, (size, mtime) in frozen.items():  # resume never rewrote them
        assert (os.path.getsize(f), os.stat(f).st_mtime_ns) == (size, mtime)
    df = spark.read.parquet(src)
    verify_roundtrip(df, read_decoded(spark, tbl),
                     key=["url"], digest_col="text")


@pytest.mark.spark
def test_write_encoded_splits_parts_prune_by_zone(spark):
    """Splits parts record per-part zones, so a narrow range on the
    near-sorted warc_ts skips whole files, with the rows of a full
    decode."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_spark.corpus import gen_batch
    from parquet_spark.manifest import _prune_parts, read_decoded, scan_table
    from parquet_spark.splits import write_encoded_splits
    src = os.path.join(tempfile.mkdtemp(prefix="splits_zone_"),
                       "in.parquet")
    batch = gen_batch(np.arange(2000), seed=9)
    pq.write_table(pa.Table.from_batches([batch]), src, row_group_size=250)
    tbl = tempfile.mkdtemp(prefix="splits_zone_tbl_")
    snap = write_encoded_splits(spark, src, tbl)
    ts = batch.column("warc_ts")
    pred = [("warc_ts", ts[900].value, ts[1000].value)]
    kept = _prune_parts(snap["parts"], pred)
    assert 0 < len(kept) < len(snap["parts"]) == 8
    got = sorted(r.url for r in scan_table(spark, tbl, pred).collect())
    want = sorted(r.url for r in read_decoded(spark, tbl).where(
        F.unix_micros("warc_ts").between(ts[900].value, ts[1000].value))
        .collect())
    assert got == want and len(want) >= 100
