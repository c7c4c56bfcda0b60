"""Per-layer metrics for a traced run (--trace 1).

Spans are recorded from the benchmark's own calls into each module's
public functions; nothing inside the program is instrumented, except
that the in-process `encode_chunk` probe swaps `engine.encode_column`
for a timing wrapper while it runs.  Ladders run staged variants of
the same job to a `noop` sink; a layer is the difference between
adjacent rungs, in wall seconds and process-tree CPU seconds.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from spans import SpanRecorder, median, slope, tree_cpu_s

LADDER_REPS = 2
KERNEL_REPS = 5


def _timed(fn):
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, tree_cpu_s() - c0, out


def _rung(fn, reps: int = LADDER_REPS) -> tuple[float, float]:
    """Median wall and CPU seconds of `reps` runs of one ladder rung."""
    walls, cpus = [], []
    for _ in range(reps):
        w, c, _ = _timed(fn)
        walls.append(w)
        cpus.append(c)
    return median(walls), median(cpus)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ladder(names: list[str], rungs: list[tuple[float, float]]) -> dict:
    """Layer i = rung i minus rung i-1 (rung 0 stands alone)."""
    out, prev = {}, (0.0, 0.0)
    for name, (w, c) in zip(names, rungs):
        out[f"{name}_s"] = w - prev[0]
        out[f"{name}_cpu_s"] = c - prev[1]
        prev = (w, c)
    return out


def engine_ladder(bench) -> dict:
    from parquet_spark.engine import encode_table, partition_for_encode
    from parquet_spark.manifest import write_encoded
    spark, k = bench.spark, bench.cores
    src = bench.inputs.src
    n = [0]

    def write():
        n[0] += 1
        path = os.path.join(bench.work, f"ladder-{n[0]}")
        try:
            write_encoded(spark.read.parquet(src), path, key=["url"],
                          n_parts=k, bloom_cols=["url"])
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def part():
        return partition_for_encode(spark.read.parquet(src), ["url"], k)[0]

    def pipe():
        dfp = part()
        return dfp.mapInArrow(lambda it: it, dfp.schema)

    rungs = [
        _rung(lambda: _noop(spark.read.parquet(src))),
        _rung(lambda: _noop(part())),
        _rung(lambda: _noop(pipe())),
        _rung(lambda: _noop(encode_table(spark.read.parquet(src),
                                         key=["url"], n_parts=k,
                                         bloom_cols=["url"]))),
        _rung(write),
    ]
    lad = _ladder(["scan", "shuffle_sort", "pipe", "encode", "write_commit"],
                  rungs)
    out = {f"engine.{k_}": v for k_, v in lad.items()
           if not k_.startswith("write_commit")}
    out["manifest.write_commit_s"] = lad["write_commit_s"]
    out["manifest.write_commit_cpu_s"] = lad["write_commit_cpu_s"]
    return out


def splits_ladder(bench) -> dict:
    from parquet_spark.splits import (encode_splits, list_splits,
                                      write_encoded_splits)
    spark, k, src = bench.spark, bench.cores, bench.inputs.src
    tasks: list[tuple[float, float]] = []
    n = [0]

    def write():
        n[0] += 1
        path = os.path.join(bench.work, f"splits-{n[0]}")
        try:
            snap = write_encoded_splits(spark, src, path, n_tasks=k)
            parts = snap["parts"].values()
            tasks.append((sum(p["cpu_ms"] for p in parts) / 1e3,
                          sum(p["wall_ms"] for p in parts) / 1e3))
        finally:
            shutil.rmtree(path, ignore_errors=True)

    rungs = [_rung(lambda: list_splits(src)),
             _rung(lambda: _noop(encode_splits(spark, src, n_tasks=k))),
             _rung(write)]
    out = {f"splits.{k_}": v for k_, v in
           _ladder(["list", "encode", "write_commit"], rungs).items()}
    out["splits.task_cpu_s"] = median([c for c, _ in tasks])
    out["splits.task_wall_s"] = median([w for _, w in tasks])
    return out


def chunk_probe(bench, rec: SpanRecorder) -> dict:
    """Spark-free encode_chunk / decode_chunk on one part-sized slice,
    with each encode_column call as a child span of encode_chunk."""
    from parquet_spark import engine
    base = bench.inputs.base
    rows = max(1, base.num_rows // bench.cores)
    batch = base.slice(0, rows).combine_chunks().to_batches()[0]
    mb = batch.nbytes / 1e6
    splits = bench.workload == "ingest_splits"
    real = engine.encode_column

    def traced_encode_column(*a, **kw):
        with rec.span("codecs.encode_column"):
            return real(*a, **kw)

    enc_t, self_t, dec_t = [], [], []
    engine.encode_column = traced_encode_column
    try:
        for _ in range(KERNEL_REPS):
            with rec.span("engine.encode_chunk", op_id=-1) as idx:
                chunk = engine.encode_chunk(
                    batch, 0, 0, "auto", {}, zone_key="url",
                    bloom_cols=None if splits else ["url"])
            s = rec.spans[idx]
            enc_t.append(s.end - s.start)
            self_t.append(rec.self_times()[idx])
            t0 = time.perf_counter()
            engine.decode_chunk(chunk["schema_ipc"], chunk["names"],
                                chunk["payloads"])
            dec_t.append(time.perf_counter() - t0)
    finally:
        engine.encode_column = real
    return {"engine.encode_chunk_s_per_mb": median(enc_t) / mb,
            "engine.chunk_self_s_per_mb": median(self_t) / mb,
            "engine.decode_chunk_s_per_mb": median(dec_t) / mb}


def codec_probe(bench) -> dict:
    """Per column of one part-sized slice: auto encode; selection (auto
    minus forced to the codec auto picked); block compression (forced
    codec with block 'auto' minus the same with 'none'); decode; and
    the share of bytes the block layer saves."""
    from parquet_spark.codecs.column import decode_column, encode_column
    base = bench.inputs.base
    rows = max(1, base.num_rows // bench.cores)
    sl = base.slice(0, rows).combine_chunks()
    out = {}

    def med(fn):
        ts = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            res = fn()
            ts.append(time.perf_counter() - t0)
        return median(ts), res

    for col in sl.column_names:
        arr = sl[col].chunk(0)
        mb = arr.nbytes / 1e6
        t_auto, (picked, payload) = med(lambda: encode_column(arr, "auto"))
        t_forced, (_, wrapped) = med(lambda: encode_column(arr, picked))
        t_raw, (_, raw) = med(lambda: encode_column(arr, picked,
                                                    block_codec="none"))
        t_dec, _ = med(lambda: decode_column(payload, arr.type))
        out[f"codecs.encode_s_per_mb.{col}"] = t_auto / mb
        out[f"codecs.select_s_per_mb.{col}"] = (t_auto - t_forced) / mb
        out[f"codecs.block_s_per_mb.{col}"] = (t_forced - t_raw) / mb
        out[f"codecs.decode_s_per_mb.{col}"] = t_dec / mb
        out[f"codecs.block_gain.{col}"] = 1.0 - len(wrapped) / len(raw)
    return out


def table_codecs(table: str) -> dict:
    """Stored bytes per column and exact codec pick counts over every
    chunk of the table's current snapshot."""
    from metrics import CODECS, COLS
    from parquet_spark.manifest import EncodedTable
    out = {f"codecs.bytes_out.{c}": 0 for c in COLS}
    out.update({f"codecs.picks.{c}": 0 for c in CODECS})
    for f in EncodedTable(table).data_files():
        t = pq.read_table(f, columns=["names", "codecs", "bytes_out"])
        for names, codecs, sizes in zip(t["names"].to_pylist(),
                                        t["codecs"].to_pylist(),
                                        t["bytes_out"].to_pylist()):
            for name, codec, size in zip(names, codecs, sizes):
                out[f"codecs.bytes_out.{name}"] += size
                out[f"codecs.picks.{codec}"] += 1
    return out


def prune_probe(bench) -> dict:
    """Share of the chunks prune_chunks_pred keeps that hold a match,
    for the predicates of the planned lookup, range_scan and count ops."""
    from parquet_spark.engine import decode_chunk, prune_chunks_pred
    from parquet_spark.manifest import EncodedTable, read_encoded
    spark, table = bench.spark, bench.table
    files = EncodedTable(table).data_files()
    chunks = pa.concat_tables(pq.read_table(f, columns=[
        "part_id", "chunk_id", "schema_ipc", "names", "payloads"])
        for f in files)
    index = {(p, c): i for i, (p, c) in enumerate(zip(
        chunks["part_id"].to_pylist(), chunks["chunk_id"].to_pylist()))}
    preds: dict[str, list] = {"lookup": [], "range_scan": [], "count": []}
    for op in bench.inputs.ops:
        p = op["params"]
        if op["kind"] == "lookup" and len(preds["lookup"]) < 3:
            preds["lookup"].append(("url", "=", p["url"]))
        elif op["kind"] == "range_scan" and len(preds["range_scan"]) < 3:
            preds["range_scan"].append(("warc_ts", p["lo"], p["hi"]))
        elif op["kind"] == "count" and len(preds["count"]) < 3:
            preds["count"].append(("lang", "=", p["lang"]))
    enc = read_encoded(spark, table)
    out = {}
    for kind, terms in preds.items():
        kept = useful = 0
        for term in terms:
            ids = prune_chunks_pred(enc, [term]).select(
                "part_id", "chunk_id").collect()
            col = term[0]
            for r in ids:
                i = index[(r.part_id, r.chunk_id)]
                names = chunks["names"][i].as_py()
                j = names.index(col)
                arr = decode_chunk(chunks["schema_ipc"][i].as_py(), [col],
                                   [chunks["payloads"][i][j].as_py()],
                                   columns=[col]).column(0)
                if term[1] == "=":
                    hit = pc.any(pc.equal(arr, term[2])).as_py()
                else:
                    us = arr.cast(pa.int64())
                    hit = pc.any(pc.and_(pc.greater_equal(us, term[1]),
                                         pc.less_equal(us, term[2]))).as_py()
                kept += 1
                useful += bool(hit)
        out[f"engine.useful_chunk_ratio.{kind}"] = useful / kept
    return out


def append_series(bench) -> list[dict]:
    """Appends of the reserved batches onto the current table, checked
    by row count, so the per-snapshot append slope has a spread of
    snapshot counts."""
    from parquet_spark.manifest import EncodedTable
    out = []
    for batch in bench.series:
        before = sum(int(p["n_rows"]) for p in
                     EncodedTable(bench.table).committed_parts().values())
        op = {"kind": "append", "round": -1, "params": {"batch": batch},
              "held": (), "expect": (before + bench.inputs.batches[batch]
                                     ["rows"], 0)}
        out.append(bench.execute(op))
    return out


def per_layer(bench, rounds, n_rounds: int, untraced: list[dict],
              trace_dir: str, args) -> tuple[dict, dict]:
    rec = SpanRecorder()
    bench.rec = rec
    try:
        traced = bench.loop(rounds, n_rounds)
        # tracing overhead: per op type, traced minus untraced median
        kinds = sorted({r["kind"] for r in traced}
                       & {r["kind"] for r in untraced})

        def p50(rs, kind):
            return median([r["wall"] for r in rs if r["kind"] == kind])

        base = sum(p50(untraced, k) for k in kinds)
        overhead = sum(p50(traced, k) for k in kinds) / base - 1
        series = append_series(bench)
    finally:
        bench.rec = None
    m: dict = {"trace.overhead_share": overhead}
    selfs = rec.self_times()
    roots = [i for i, s in enumerate(rec.spans) if s.parent is None]
    root_wall = sum(rec.spans[i].end - rec.spans[i].start for i in roots)
    m["trace.unattributed_share"] = sum(selfs[i] for i in roots) / root_wall
    by_name: dict[str, list[float]] = {}
    for s in rec.spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)
    m["manifest.scan_plan_s"] = median(by_name["manifest.scan_table"])
    m["manifest.scan_exec_s"] = median(by_name["manifest.scan_exec"])
    m["datasource.plan_s"] = median(by_name["datasource.plan"])
    m["datasource.exec_s"] = median(by_name["datasource.exec"])
    m["manifest.files_kept_ratio"] = median(bench.files_kept)
    counts = [c for c, _ in bench.resolves]
    m["manifest.resolve_s"] = median([d for _, d in bench.resolves])
    m["manifest.resolve_s_per_snapshot"] = slope(
        counts, [d for _, d in bench.resolves])
    appends = [r for r in untraced + traced + series if r["kind"] == "append"]
    m["manifest.append_s_per_snapshot"] = slope(
        [r["snapshot_id"] for r in appends], [r["wall"] for r in appends])
    m["manifest.snapshot_count"] = max(r["snapshot_id"] for r in appends) + 1
    m.update(table_codecs(bench.table))
    m.update(prune_probe(bench))
    m.update(chunk_probe(bench, rec))
    m.update(codec_probe(bench))
    m.update(engine_ladder(bench))
    m.update(splits_ladder(bench))
    m["trace.spans"] = len(rec.spans)
    os.makedirs(trace_dir, exist_ok=True)
    rec.dump(os.path.join(trace_dir,
                          f"{args.workload}-seed{args.seed}.json"))
    detail = {
        "span_self_s": {n: round(sum(selfs[i] for i, s in enumerate(rec.spans)
                                     if s.name == n), 4)
                        for n in by_name},
        "root_wall_s": root_wall,
        "ops_traced": len(traced),
        "extra_ops": len(traced) + len(series),
        "extra_failed": sum(not r["ok"] for r in traced + series),
    }
    return m, detail
