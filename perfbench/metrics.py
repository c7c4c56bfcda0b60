"""The benchmark's metric catalogue: one source of truth for the names,
units and directions in BENCHMARK.json, and for which end-to-end metric
each per-layer metric should move on which workload.

Layers are the repository's modules: corpus (set-up only), engine,
codecs, splits, manifest, datasource.
"""

WORKLOADS = {
    "ingest_hash": "north-rule write (url-hash layout, url Bloom) of "
                   "random-html rows, then reads of the fresh table; "
                   "shuffle and Arrow pipe dominate the write",
    "ingest_splits": "scan-in-worker write of rows with compressible "
                     "html, then reads of a table without hash layout or "
                     "Bloom; codec choice, FSST and zstd dominate",
}

# name -> (unit, better, bound).  On a shared 4-core VM every timing,
# CPU seconds included, moves together by 10-20% between runs minutes
# apart (the host's CPU speed drifts), so time bounds sit at the 0.25
# maximum; sizes are exact per seed.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "ingest_mb_s": ("MB/s", "higher", 0.25),
    "ingest_cpu_s_per_gb": ("s/GB", "lower", 0.25),
    "stored_bytes_per_input_byte": ("ratio", "lower", 0.03),
    "size_vs_parquet_snappy": ("ratio", "lower", 0.03),
    "lookup_s_p50": ("s", "lower", 0.25),
    "ds_lookup_s_p50": ("s", "lower", 0.25),
    "range_scan_s_p50": ("s", "lower", 0.25),
    "count_s_p50": ("s", "lower", 0.25),
    "append_s_p50": ("s", "lower", 0.25),
    "read_mb_s": ("MB/s", "higher", 0.25),
    "mix_ops_per_s": ("1/s", "higher", 0.25),
    "mix_op_s_tail": ("s", "lower", 0.25),
    "ok_op_ratio": ("ratio", "higher", 0.01),
}

COLS = ["url", "warc_ts", "html", "text", "lang"]
CODECS = ["plain", "int", "bool", "str_plain", "fsst", "dict", "list",
          "dec128", "bss", "alp", "prefix", "struct"]
OPS_PRUNED = ["lookup", "range_scan", "count"]

_BOTH = list(WORKLOADS)


def _per_layer() -> dict:
    """name -> (unit, better, [(end-to-end metric, workload), ...])."""
    m: dict = {}
    ladder_moves = [("ingest_mb_s", "ingest_hash"),
                    ("ingest_cpu_s_per_gb", "ingest_hash")]
    for rung in ("scan", "shuffle_sort", "pipe", "encode"):
        moves = list(ladder_moves)
        if rung == "pipe":
            moves.append(("read_mb_s", "ingest_hash"))
        m[f"engine.{rung}_s"] = ("s", "lower", moves)
        m[f"engine.{rung}_cpu_s"] = ("s", "lower", moves)
    m["engine.encode_chunk_s_per_mb"] = (
        "s/MB", "lower", [("ingest_mb_s", w) for w in _BOTH])
    m["engine.chunk_self_s_per_mb"] = (
        "s/MB", "lower", [("ingest_mb_s", "ingest_hash")])
    m["engine.decode_chunk_s_per_mb"] = (
        "s/MB", "lower", [("read_mb_s", w) for w in _BOTH])
    for op in OPS_PRUNED:
        target = {"lookup": "lookup_s_p50", "range_scan": "range_scan_s_p50",
                  "count": "count_s_p50"}[op]
        m[f"engine.useful_chunk_ratio.{op}"] = (
            "ratio", "higher", [(target, w) for w in _BOTH])
    codec_speed = [("ingest_mb_s", "ingest_splits"),
                   ("ingest_cpu_s_per_gb", "ingest_splits"),
                   ("read_mb_s", "ingest_splits")]
    codec_size = [("stored_bytes_per_input_byte", w) for w in _BOTH] + \
                 [("size_vs_parquet_snappy", w) for w in _BOTH]
    for c in COLS:
        for what in ("encode", "select", "block", "decode"):
            m[f"codecs.{what}_s_per_mb.{c}"] = ("s/MB", "lower", codec_speed)
        m[f"codecs.bytes_out.{c}"] = ("bytes", "lower", codec_size)
        m[f"codecs.block_gain.{c}"] = ("ratio", "higher", codec_size)
    for c in CODECS:
        m[f"codecs.picks.{c}"] = ("count", "higher", codec_size)
    splits_moves = [("ingest_mb_s", "ingest_splits")]
    for rung in ("list", "encode", "write_commit"):
        m[f"splits.{rung}_s"] = ("s", "lower", splits_moves)
        m[f"splits.{rung}_cpu_s"] = ("s", "lower", splits_moves)
    m["splits.task_cpu_s"] = ("s", "lower", splits_moves)
    m["splits.task_wall_s"] = ("s", "lower", splits_moves)
    m["manifest.write_commit_s"] = ("s", "lower",
                                    [("ingest_mb_s", "ingest_hash")])
    m["manifest.write_commit_cpu_s"] = ("s", "lower",
                                        [("ingest_cpu_s_per_gb",
                                          "ingest_hash")])
    mix_lat = [(k, w) for k in
               ("lookup_s_p50", "ds_lookup_s_p50", "range_scan_s_p50",
                "count_s_p50", "append_s_p50") for w in _BOTH]
    m["manifest.resolve_s"] = ("s", "lower", mix_lat)
    m["manifest.resolve_s_per_snapshot"] = ("s", "lower", mix_lat)
    m["manifest.snapshot_count"] = ("count", "lower", mix_lat)
    m["manifest.append_s_per_snapshot"] = (
        "s", "lower", [("append_s_p50", w) for w in _BOTH])
    scan_moves = [(k, w) for k in ("lookup_s_p50", "range_scan_s_p50")
                  for w in _BOTH]
    m["manifest.scan_plan_s"] = ("s", "lower", scan_moves)
    m["manifest.scan_exec_s"] = ("s", "lower", scan_moves)
    m["manifest.files_kept_ratio"] = ("ratio", "lower", scan_moves)
    ds_moves = [("ds_lookup_s_p50", w) for w in _BOTH]
    m["datasource.plan_s"] = ("s", "lower", ds_moves)
    m["datasource.exec_s"] = ("s", "lower", ds_moves)
    trace_moves = [("mix_ops_per_s", w) for w in WORKLOADS]
    m["trace.unattributed_share"] = ("ratio", "lower", trace_moves)
    m["trace.overhead_share"] = ("ratio", "lower", trace_moves)
    m["trace.spans"] = ("count", "lower", trace_moves)
    return m


PER_LAYER = _per_layer()


def benchmark_json(run_seconds: int) -> dict:
    """The BENCHMARK.json document these tables describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, (u, b, bd) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b, _) in PER_LAYER.items()],
    }
