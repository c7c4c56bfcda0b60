"""Incremental materialized rollups: a derived aggregate table that
refreshes from only the SOURCE ROWS APPENDED since its last refresh.

The 100 TB shape: a grouped aggregate over the corpus (tokens per
domain per day, language histograms, quality-score distributions) is
recomputed constantly in training pipelines; at 10^12 docs the full
group-by is a corpus-sized shuffle every time.  A rollup table makes
it incremental — `refresh_rollup` reads the manifest diff
(`read_increment`: only the appended part FILES are scanned),
partially aggregates the day's rows, and merges with the stored
rollup via the aggregates' own merge algebra (sum+sum, count+count,
min/min, max/max) — refresh cost tracks the INGEST, not the corpus,
exactly like the incremental-ANALYZE path (`stats.analyze_incremental`).

Crash safety without a meta-carrying writer: every refresh is two
commits on the rollup table — the content (`write_encoded(replace=
True)`) and a metadata-only STAMP commit that records the spec +
source watermark in the snapshot meta.  Readers of the rollup never
care; `refresh_rollup` itself always resumes from the newest STAMPED
ancestor (content at that snapshot id, watermark from its meta), so a
crash between the two commits leaves an unstamped head that the next
refresh simply supersedes — replay, not corruption.  The stamped base
must stay readable until the refresh lands, which is the same
grace-window contract `vacuum_table` already gives in-flight readers.

Aggregate functions are restricted to the MERGEABLE set {count, sum,
min, max} (avg = sum/count at query time) — the restriction is what
makes the merge exact rather than approximate; non-decomposable
aggregates (median, distinct counts) belong to `stats.exact_quantiles`
/ `sketch.kmv_sketch` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import (EncodedTable, read_decoded, read_increment,
                       write_encoded)

_MERGEABLE = ("count", "sum", "min", "max")


def _no_source(src_path: str, src_backend) -> str:
    return (f"no committed snapshot at {src_path}"
            + ("" if src_backend is not None else
               " (if the source uses a custom CommitBackend, pass "
               "src_backend=...; `backend` commits only the rollup "
               "table)"))


def _derive(df: DataFrame, derived: dict[str, str] | None) -> DataFrame:
    for name, expr in (derived or {}).items():
        df = df.withColumn(name, F.expr(expr))
    return df


def _first_aggs(aggs: dict) -> list:
    out = []
    for name, (fn, col) in aggs.items():
        if fn not in _MERGEABLE:
            raise ValueError(
                f"aggregate {fn!r} is not mergeable; rollups support "
                f"{_MERGEABLE} (derive avg from sum/count at read time)")
        if fn == "count":
            e = F.count(F.lit(1)) if col in ("*", None) else F.count(col)
        else:
            e = getattr(F, fn)(col)
        out.append(e.alias(name))
    return out


def _merge_aggs(aggs: dict) -> list:
    # partials merge by OUTPUT column name; counts merge by summing
    return [(F.sum(name) if fn in ("count", "sum") else
             getattr(F, fn)(name)).alias(name)
            for name, (fn, _) in aggs.items()]


def _aggregate(df: DataFrame, spec: dict) -> DataFrame:
    aggs = {k: tuple(v) for k, v in spec["aggs"].items()}
    df = _derive(df, spec.get("derived"))
    return df.groupBy(*spec["group_cols"]).agg(*_first_aggs(aggs))


def _stamp(dst_path: str, spec: dict, content_snap: dict,
           backend=None) -> dict:
    """Metadata-only commit carrying the rollup spec + watermark: the
    parts manifest and schema are `content_snap`'s verbatim, and the
    CAS runs against that EXACT snapshot — never against a re-read of
    CURRENT.  Stamping whatever CURRENT happens to be would let a
    racing refresh's content get labeled with THIS refresher's
    watermark, and the next incremental refresh would then merge an
    increment the content already contains (permanent double count).
    A racer having moved CURRENT surfaces as ConcurrentCommitError —
    an honest retry signal, not silent corruption."""
    t = EncodedTable(dst_path, backend=backend)
    meta = dict(content_snap.get("meta") or {})
    meta["rollup"] = spec
    return t.commit(dict(content_snap["parts"]), None, content_snap,
                    meta=meta)


def _stamped_base(t: EncodedTable) -> dict:
    snap = t.current_snapshot()
    while snap is not None:
        if (snap.get("meta") or {}).get("rollup"):
            return snap
        snap = t._parent_of(snap)
    raise ValueError(
        f"{t.path} carries no rollup stamp on any ancestor; was it "
        "created with create_rollup?")


def create_rollup(spark: SparkSession, src_path: str, dst_path: str,
                  group_cols: list[str], aggs: dict[str, tuple],
                  derived: dict[str, str] | None = None,
                  key: list[str] | None = None, n_parts: int = 1,
                  rows_per_chunk: int = 10_000,
                  backend=None, src_backend=None) -> dict:
    """Materialize `SELECT group_cols, aggs FROM src GROUP BY
    group_cols` as an encoded rollup table at dst_path, stamped with
    the source snapshot watermark so `refresh_rollup` can catch up
    incrementally.  `aggs` maps output column -> (fn, src_col) with fn
    in {count, sum, min, max} (count accepts "*"); `derived` adds
    pre-group SQL expressions (e.g. {"day": "date_trunc('DAY', ts)"})
    usable in group_cols.  `backend` commits the ROLLUP table;
    `src_backend` reads the source (they can differ; a source on a
    custom backend must be passed again to every `refresh_rollup`).
    Returns the stamped snapshot."""
    spec = {"src": src_path, "group_cols": list(group_cols),
            "aggs": {k: list(v) for k, v in aggs.items()},
            "derived": dict(derived or {}),
            "key": list(key or group_cols[:1]), "n_parts": n_parts,
            "rows_per_chunk": rows_per_chunk}
    src = EncodedTable(src_path, backend=src_backend)
    cur = src.current_snapshot()
    if cur is None:
        raise ValueError(_no_source(src_path, src_backend))
    spec["src_snapshot"] = cur["snapshot_id"]
    out = _aggregate(
        read_decoded(spark, src_path, snapshot_id=cur["snapshot_id"],
                     backend=src_backend), spec)
    content = write_encoded(out, dst_path, key=spec["key"],
                            n_parts=n_parts,
                            rows_per_chunk=rows_per_chunk,
                            backend=backend)
    return _stamp(dst_path, spec, content, backend=backend)


def refresh_rollup(spark: SparkSession, dst_path: str,
                   backend=None, src_backend=None) -> dict:
    """Catch the rollup up to the source's CURRENT snapshot.  Fast
    path: `read_increment` over the manifest diff scans only the
    appended part files, partially aggregates them, and merges with
    the stored rollup by the aggregates' merge algebra — cost ∝ the
    appended data.  When the source history is not append-only since
    the watermark (compaction / rewrite / delete commits make the diff
    a lie, and read_increment refuses it), falls back to a full
    recompute at the new snapshot — correct on every history, just not
    incremental.  No-op (no commit) when the source hasn't moved.
    Returns {"refreshed", "mode", "from", "to", "snapshot"}."""
    t = EncodedTable(dst_path, backend=backend)
    base = _stamped_base(t)
    spec = dict(base["meta"]["rollup"])
    src = EncodedTable(spec["src"], backend=src_backend)
    now = src.current_snapshot()
    if now is None:
        raise ValueError(_no_source(spec["src"], src_backend))
    frm, to = spec["src_snapshot"], now["snapshot_id"]
    if to == frm:
        return {"refreshed": False, "mode": "noop", "from": frm,
                "to": to, "snapshot": base}
    mode = "incremental"
    try:
        delta = read_increment(spark, spec["src"], from_snapshot_id=frm,
                               to_snapshot_id=to, backend=src_backend)
        old = read_decoded(spark, dst_path,
                           snapshot_id=base["snapshot_id"],
                           backend=backend)
        merged = (old.unionByName(_aggregate(delta, spec))
                  .groupBy(*spec["group_cols"])
                  .agg(*_merge_aggs(
                      {k: tuple(v) for k, v in spec["aggs"].items()})))
    except ValueError:
        mode = "full"
        merged = _aggregate(
            read_decoded(spark, spec["src"], snapshot_id=to,
                         backend=src_backend), spec)
    content = write_encoded(merged, dst_path, key=spec["key"],
                            n_parts=spec["n_parts"],
                            rows_per_chunk=spec["rows_per_chunk"],
                            replace=True, backend=backend)
    spec["src_snapshot"] = to
    snap = _stamp(dst_path, spec, content, backend=backend)
    return {"refreshed": True, "mode": mode, "from": frm, "to": to,
            "snapshot": snap}
