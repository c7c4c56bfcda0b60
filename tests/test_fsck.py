"""fsck_table: manifest↔storage consistency audit."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from parquet_spark.fsck import fsck_summary, fsck_table
from parquet_spark.manifest import (EncodedTable, create_ref,
                                    delete_rows, write_encoded)


def _docs(spark, n=300):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where(F.col("doc_id") < n))


@pytest.mark.spark
def test_fsck_clean_table_and_orphans(spark):
    d = _docs(spark)
    tbl = tempfile.mkdtemp(prefix="fsck_")
    write_encoded(d, tbl, key=["doc_id"], n_parts=2, rows_per_chunk=64)
    delete_rows(spark, tbl, [("doc_id", 10, 20)])
    create_ref(tbl, "v1", kind="tag")
    rep = fsck_table(tbl, deep=True)
    assert rep["ok"], rep
    assert rep["snapshots_reachable"] == 2
    assert not rep["orphan_data"] and not rep["row_mismatch"]
    assert fsck_summary(rep).startswith("OK")
    # drop an orphan data file + an orphan snapshot: still ok, reported
    orphan = os.path.join(tbl, "data", "stray-00000.parquet")
    open(orphan, "wb").write(b"junk")
    open(os.path.join(tbl, "snapshots", "snap-999999-dead.json"),
         "w").write("{}")
    rep2 = fsck_table(tbl)
    assert rep2["ok"]
    assert rep2["orphan_data"] == [os.path.abspath(orphan)]
    assert rep2["orphan_snapshots"] == ["snap-999999-dead.json"]
    assert "vacuum candidates" in fsck_summary(rep2)


@pytest.mark.spark
def test_fsck_detects_missing_and_mismatched_files(spark):
    d = _docs(spark)
    tbl = tempfile.mkdtemp(prefix="fsck_bad_")
    write_encoded(d, tbl, key=["doc_id"], n_parts=2, rows_per_chunk=64)
    t = EncodedTable(tbl)
    files = t.data_files()
    # storage loss: a referenced file disappears
    os.remove(files[0])
    rep = fsck_table(tbl)
    assert not rep["ok"]
    assert [e["file"] for e in rep["missing_files"]] == [files[0]]
    assert fsck_summary(rep).startswith("BROKEN")
    # truncation: a referenced file goes zero-length
    open(files[1], "wb").close()
    rep2 = fsck_table(tbl)
    assert [e["file"] for e in rep2["size_mismatch"]] == [files[1]]
    # a ref whose snapshot object is gone
    tbl2 = tempfile.mkdtemp(prefix="fsck_ref_")
    write_encoded(d, tbl2, key=["doc_id"], n_parts=1)
    create_ref(tbl2, "pin", kind="tag")
    snap_name = EncodedTable(tbl2).current_snapshot()["_snap_name"]
    # commit once more so CURRENT no longer needs the pinned object
    write_encoded(d.withColumn("doc_id", F.col("doc_id") + 1000),
                  tbl2, key=["doc_id"], n_parts=1, part_offset=1)
    os.remove(os.path.join(tbl2, "snapshots", snap_name))
    rep3 = fsck_table(tbl2)
    assert not rep3["ok"]
    assert rep3["broken_refs"] and \
        rep3["broken_refs"][0]["snap"] == snap_name


@pytest.mark.spark
def test_fsck_vacuumed_history_is_not_breakage(spark):
    """vacuum legitimately deletes files only ancestors reference;
    fsck must report them as expired_history, not BROKEN."""
    from parquet_spark.manifest import compact_table, vacuum_table
    d = _docs(spark)
    tbl = tempfile.mkdtemp(prefix="fsck_vac_")
    write_encoded(d, tbl, key=["doc_id"], n_parts=4, rows_per_chunk=64)
    compact_table(spark, tbl, target_parts=1)
    removed = vacuum_table(tbl, grace_s=0.0)
    assert removed  # pre-compact parts are gone
    rep = fsck_table(tbl, deep=True)
    assert rep["ok"], rep
    assert len(rep["expired_history"]) == 4
    assert not rep["missing_files"]
    assert "time travel is over" in fsck_summary(rep)


@pytest.mark.spark
def test_fsck_deep_detects_bit_rot(spark, tmp_path):
    """file_hash lineage: deep fsck re-hashes every live part and
    flags a single flipped byte; an untouched table verifies clean
    with zero unhashed parts."""
    from parquet_spark.corpus import gen_corpus
    from parquet_spark.fsck import fsck_summary, fsck_table
    from parquet_spark.manifest import EncodedTable
    from parquet_spark.splits import write_encoded_splits
    src = str(tmp_path / "c.parquet")
    gen_corpus(spark, 800, seed=7, parts=2).write.parquet(src)
    tbl = str(tmp_path / "t")
    write_encoded_splits(spark, src, tbl, n_tasks=2)
    rep = fsck_table(tbl, deep=True)
    assert rep["ok"] and not rep["checksum_mismatch"]
    assert rep["unhashed_parts"] == 0  # every part carries file_hash
    victim = EncodedTable(tbl).data_files()[0]
    with open(victim, "r+b") as f:
        f.seek(100)
        b = f.read(1)
        f.seek(100)
        f.write(bytes([b[0] ^ 0xFF]))
    rep = fsck_table(tbl, deep=True)
    assert not rep["ok"]
    assert [m["file"] for m in rep["checksum_mismatch"]] == [victim]
    assert "BROKEN" in fsck_summary(rep)
    # shallow fsck cannot see byte-level rot (size unchanged)
    assert fsck_table(tbl, deep=False)["ok"]


@pytest.mark.spark
def test_fsck_deep_flags_stale_part_ids_until_recompacted(spark):
    """A chunk row's part_id must equal its manifest key (delete
    scoping and aggregate pushdown read it).  Deep fsck reports a part
    whose chunk rows say otherwise — what a compaction by a build that
    did not restamp ids left behind — and compact_table repairs it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_spark.engine import write_part_atomic
    from parquet_spark.manifest import compact_table
    d = _docs(spark)
    tbl = tempfile.mkdtemp(prefix="fsck_pid_")
    write_encoded(d, tbl, key=["doc_id"], n_parts=2, rows_per_chunk=64)
    t = EncodedTable(tbl)
    snap = t.current_snapshot()
    victim = snap["parts"]["1"]["file"]
    chunks = pq.read_table(victim)
    chunks = chunks.set_column(
        chunks.schema.get_field_index("part_id"), "part_id",
        pa.array([7] * len(chunks), pa.int64()))
    # keep the manifest's file hash truthful, so only the ids differ
    snap["parts"]["1"]["file_hash"] = write_part_atomic(chunks, victim)
    t.commit(snap["parts"], None, snap, meta=snap["meta"])
    rep = fsck_table(tbl, deep=True)
    assert not rep["ok"]
    assert not rep["checksum_mismatch"]
    assert [(e["part"], e["chunk_part_ids"])
            for e in rep["part_id_mismatch"]] == [("1", [7])]
    assert fsck_summary(rep).startswith("BROKEN")
    compact_table(spark, tbl, target_parts=2)
    rep2 = fsck_table(tbl, deep=True)
    assert rep2["ok"] and not rep2["part_id_mismatch"], rep2
