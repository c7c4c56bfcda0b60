"""Table integrity audit (fsck): verify that what the manifests claim
matches what storage holds, without decoding any data.

The commit protocol can only leave two benign artifact classes behind
(orphan snapshot jsons from losing racers, orphan data files from
killed writers — both documented in FORMAT.md §2) and vacuum relies on
that; fsck is the independent check that nothing WORSE happened:
a referenced file missing (storage loss, over-eager manual cleanup),
a part whose parquet row count disagrees with its manifest entry, or
an unreadable snapshot in the reachable chain.  Driver-side metadata
walk; `deep=True` additionally opens each referenced file's parquet
FOOTER (row counts), hashes its bytes and reads its `part_id` column —
still no payload decode.

Reference analog: the reference trusts the filesystem entirely
(ParquetFile.cs opens and throws); at 10^12 rows an auditable
manifest↔storage contract is the operable replacement.
"""

from __future__ import annotations

import json
import os

from .manifest import CommitBackend, EncodedTable, list_refs


def fsck_table(table_path: str, deep: bool = False,
               backend: CommitBackend | None = None) -> dict:
    """Audit manifest↔storage consistency.  Returns a report dict:

      ok                 True iff nothing is broken (orphans and
                         vacuum-expired history are not breakage)
      snapshots_reachable  snapshots on the CURRENT chain + ref heads
      missing_files      data files a LIVE snapshot (CURRENT or a ref
                         head — exactly vacuum's retention set)
                         references but storage lacks
      expired_history    files only ANCESTOR snapshots reference that
                         are gone — the normal aftermath of
                         vacuum_table (time travel to those snapshots
                         is over); informational, not breakage
      size_mismatch      referenced live files with zero size
      row_mismatch       (deep) live parts whose parquet footer row
                         count != the manifest's n_chunks
      checksum_mismatch  (deep) live parts whose file bytes no longer
                         hash to the manifest's `file_hash` lineage —
                         bit rot / truncated upload / in-place edit.
                         Parts written by builds predating file_hash
                         carry none and are skipped (reported in
                         unhashed_parts)
      unhashed_parts     (deep) count of live parts without a stored
                         file_hash (informational)
      part_id_mismatch   (deep) live parts whose chunk rows carry a
                         `part_id` other than the part's manifest key
                         (reads only that column).  Delete scoping and
                         the aggregate pushdowns rely on the match;
                         tables compacted or rewritten by builds that
                         did not restamp ids break it.  Remedy: run
                         `compact_table` again, which restamps every
                         part it writes
      missing_deletes    delete-file dirs a LIVE snapshot lists but
                         storage lacks
      broken_refs        refs whose snapshot object is unreadable
      orphan_data        data files no reachable snapshot references
      orphan_snapshots   snapshot jsons outside every reachable chain
    """
    table = EncodedTable(table_path, backend=backend)
    report: dict = {"ok": True, "snapshots_reachable": 0,
                    "missing_files": [], "expired_history": [],
                    "size_mismatch": [],
                    "row_mismatch": [], "checksum_mismatch": [],
                    "unhashed_parts": 0, "part_id_mismatch": [],
                    "missing_deletes": [],
                    "broken_refs": [], "orphan_data": [],
                    "orphan_snapshots": []}

    # -- reachable snapshot set: CURRENT's chain + every ref's chain
    heads: list[dict] = []
    cur = table.current_snapshot()
    if cur is not None:
        heads.append(cur)
    for name, ref in list_refs(table_path).items():
        try:
            heads.append(table._load_snapshot(ref["snap_name"]))
        except Exception as ex:  # unreadable/missing snapshot object
            report["broken_refs"].append(
                {"ref": name, "snap": ref.get("snap_name"),
                 "error": str(ex)[:200]})
    seen: dict[str, dict] = {}
    for head in heads:
        snap = head
        while snap is not None:
            nm = snap.get("_snap_name")
            if nm in seen:
                break
            seen[nm] = snap
            try:
                snap = table._parent_of(snap)
            except Exception as ex:
                report["broken_refs"].append(
                    {"ref": None, "snap": nm,
                     "error": f"parent walk failed: {str(ex)[:160]}"})
                break
    report["snapshots_reachable"] = len(seen)

    # -- referenced files exist.  Breakage is judged against the LIVE
    # set only (head snapshots = vacuum's retention contract); files
    # referenced solely by ancestors may legitimately be gone.
    head_names = {h.get("_snap_name") for h in heads}
    live: set[str] = set()
    for snap in seen.values():
        is_live = snap.get("_snap_name") in head_names
        for pid, info in (snap.get("parts") or {}).items():
            f = info["file"]
            live.add(os.path.abspath(f))
            if not os.path.exists(f):
                report["missing_files" if is_live
                       else "expired_history"].append(
                    {"snapshot": snap["snapshot_id"], "part": pid,
                     "file": f})
                continue
            if not is_live:
                continue
            if os.path.getsize(f) == 0:
                report["size_mismatch"].append(
                    {"snapshot": snap["snapshot_id"], "part": pid,
                     "file": f})
            elif deep:
                import pyarrow.parquet as pq
                n = pq.ParquetFile(f).metadata.num_rows
                if n != info.get("n_chunks"):
                    report["row_mismatch"].append(
                        {"snapshot": snap["snapshot_id"], "part": pid,
                         "file": f, "footer_chunks": n,
                         "manifest_chunks": info.get("n_chunks")})
                want = info.get("file_hash")
                if not want:
                    report["unhashed_parts"] += 1
                else:
                    from .engine import file_digest
                    got = file_digest(f)
                    if got != want:
                        report["checksum_mismatch"].append(
                            {"snapshot": snap["snapshot_id"],
                             "part": pid, "file": f,
                             "expected": want, "actual": got})
                        continue  # rotten bytes: columns not trusted
                found = pq.read_table(f, columns=["part_id"]).column(0)
                stray = sorted(set(found.unique().to_pylist()) - {int(pid)})
                if stray:
                    report["part_id_mismatch"].append(
                        {"snapshot": snap["snapshot_id"], "part": pid,
                         "file": f, "chunk_part_ids": stray[:8]})
        for df in (snap.get("meta") or {}).get("delete_files") or []:
            p = df["path"] if isinstance(df, dict) else df
            live.add(os.path.abspath(p))
            if is_live and not os.path.exists(p):
                report["missing_deletes"].append(
                    {"snapshot": snap["snapshot_id"], "path": p})

    # -- orphans (informational: vacuum's food, not corruption)
    data_dir = os.path.join(table_path, "data")
    if os.path.isdir(data_dir):
        for name in sorted(os.listdir(data_dir)):
            if not name.endswith(".parquet"):
                continue
            p = os.path.abspath(os.path.join(data_dir, name))
            if p not in live:
                report["orphan_data"].append(p)
    snap_dir = os.path.join(table_path, "snapshots")
    if os.path.isdir(snap_dir):
        expired = table._expired_names()
        for name in sorted(os.listdir(snap_dir)):
            # expire_snapshots tombstones are maintenance metadata, and
            # names they record were deleted deliberately — neither is
            # an orphan
            if name.startswith("expired-") or name in expired:
                continue
            if name.endswith(".json") and name not in seen:
                report["orphan_snapshots"].append(name)

    report["ok"] = not (report["missing_files"]
                        or report["size_mismatch"]
                        or report["row_mismatch"]
                        or report["checksum_mismatch"]
                        or report["part_id_mismatch"]
                        or report["missing_deletes"]
                        or report["broken_refs"])
    return report


def fsck_summary(report: dict) -> str:
    """One-line human rendering of an fsck report."""
    if report["ok"]:
        extra = ""
        if report["orphan_data"] or report["orphan_snapshots"]:
            extra = (f" ({len(report['orphan_data'])} orphan data, "
                     f"{len(report['orphan_snapshots'])} orphan "
                     "snapshots — vacuum candidates)")
        if report["expired_history"]:
            extra += (f" ({len(report['expired_history'])} "
                      "ancestor-only files vacuumed — that time "
                      "travel is over)")
        return (f"OK: {report['snapshots_reachable']} reachable "
                f"snapshots, all live objects present{extra}")
    bad = {k: len(v) for k, v in report.items()
           if isinstance(v, list) and v
           and k not in ("orphan_data", "orphan_snapshots",
                         "expired_history")}
    return f"BROKEN: {json.dumps(bad)}"
