"""Benchmark of the parquet_spark encode engine.

    python3 perfbench/run.py --workload ingest_hash --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout.  Workloads and metrics are listed in
perfbench/metrics.py.  Each workload is a closed loop with one client
thread on local[k] (k = min(2, cores)); the seed fixes every input and
the op sequence.  Every answer is checked against a DuckDB oracle
computed in set-up.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 4000        # ~17 MB of Arrow input per ingest
BATCH_ROWS = 200     # rows per append
SERIES_APPENDS = 4   # extra appends for the per-snapshot append slope
SETUP_REPS = 3       # setup_s is the median of this many set-ups
ROUND_S = 6.5        # op time of one round on a 4-vCPU VM
MIN_ROUNDS = 3       # a median of three rejects one disturbed sample
WARM_ROUNDS = 1      # first-call costs: JVM, Python workers, planner
# driver heap committed and touched at start, with a fixed young
# generation: no heap growth or GC resizing while ops are timed
DRIVER_HEAP = "-Xms1g -Xmn600m -XX:+AlwaysPreTouch"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_hash", "ingest_splits"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured op time per loop")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """local[cores] session whose scratch files all stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM (the launcher too): temp files under `work`, no
    # hsperfdata files in the system temp directory.  C1 only: a run
    # lives about a minute, and with C2 the JVM kept getting faster
    # for ~50 s, so latencies depended on how far a run got; with C1
    # they are flat from the second round on and no slower.  Two GC
    # threads, so the JVM stays within the cores the run uses.
    os.environ["_JAVA_OPTIONS"] = ("-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                                   "-XX:ParallelGCThreads=2 "
                                   "-XX:ConcGCThreads=1 "
                                   f"-Djava.io.tmpdir={tmp}")
    from parquet_spark import tune_malloc_for_workers
    tune_malloc_for_workers()
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "3g")
             .config("spark.driver.extraJavaOptions", DRIVER_HEAP)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from parquet_spark import datasource
    datasource.register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session (if one started), then the gateway JVM, and wait
    for every process this run started to end."""
    from pyspark import SparkContext
    from spans import live_descendants
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        left = live_descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def dir_bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


class Bench:
    """One workload's op executor and closed loop."""

    def __init__(self, spark, workload: str, cores: int, work: str, inputs,
                 series: range):
        self.spark = spark
        self.workload = workload
        self.cores = cores
        self.work = work
        self.inputs = inputs
        self.series = series     # batches kept for the traced append series
        self.table: str | None = None
        self.next_offset = cores
        self.rec = None          # SpanRecorder while tracing
        self.resolves: list[tuple[int, float]] = []
        self.files_kept: list[float] = []
        self.last_scan = None    # DataFrame of the last scan_table op
        self.op_id = 0
        self.n_tables = 0

    # ------------------------------------------------------------ ops
    def _sp(self, name: str, op_id: int | None = None):
        return (self.rec.span(name, op_id) if self.rec is not None
                else nullcontext())

    def _write(self, path: str, src: str, append: bool):
        if self.workload == "ingest_splits":
            from parquet_spark.splits import write_encoded_splits
            with self._sp("splits.write_encoded_splits"):
                return write_encoded_splits(self.spark, src, path,
                                            n_tasks=self.cores)
        from parquet_spark.manifest import write_encoded
        offset = self.next_offset if append else 0
        with self._sp("manifest.write_encoded"):
            snap = write_encoded(self.spark.read.parquet(src), path,
                                 key=["url"], n_parts=self.cores,
                                 bloom_cols=["url"], part_offset=offset)
        if append:
            self.next_offset += self.cores
        return snap

    def _do(self, op: dict):
        """Run one op; returns what the check needs."""
        from pyspark.sql import functions as F

        from parquet_spark.manifest import (count_where, read_decoded,
                                            scan_table)
        kind, p = op["kind"], op["params"]
        if kind == "ingest":
            self.n_tables += 1
            self.table = os.path.join(self.work, f"table-{self.n_tables}")
            self.next_offset = self.cores
            return self._write(self.table, self.inputs.src, append=False)
        if kind == "append":
            return self._write(self.table,
                               self.inputs.batches[p["batch"]]["path"],
                               append=True)
        if kind == "count":
            with self._sp("manifest.count_where"):
                return count_where(self.spark, self.table,
                                   [("lang", "=", p["lang"])])
        if kind == "full_read":
            with self._sp("manifest.read_decoded"):
                df = read_decoded(self.spark, self.table)
            with self._sp("manifest.read_exec"):
                return df.toArrow()
        if kind == "ds_lookup":
            with self._sp("datasource.plan"):
                df = (self.spark.read.format("parquet_spark")
                      .load(self.table).where(F.col("url") == p["url"]))
                df._jdf.queryExecution().executedPlan()
            with self._sp("datasource.exec"):
                return df.toArrow()
        pred = ([("url", "=", p["url"])] if kind == "lookup"
                else [("warc_ts", p["lo"], p["hi"])])
        with self._sp("manifest.scan_table"):
            df = scan_table(self.spark, self.table, pred)
        with self._sp("manifest.scan_exec"):
            out = df.toArrow()
        self.last_scan = df
        return out

    def _files_kept(self) -> float:
        """Share of the table's part files the last scan read."""
        from parquet_spark.manifest import EncodedTable
        n_files = len(EncodedTable(self.table).data_files())
        return len(self.last_scan.inputFiles()) / n_files

    def _resolve(self) -> None:
        from parquet_spark.manifest import EncodedTable
        t0 = time.perf_counter()
        with self._sp("manifest.resolve"):
            table = EncodedTable(self.table)
            snap = table.current_snapshot()
            table.committed_parts(snap)
        self.resolves.append((snap["snapshot_id"] + 1,
                              time.perf_counter() - t0))

    def _check(self, op: dict, out) -> tuple[bool, dict]:
        """Compare with the oracle (untimed); also returns the byte
        counts the throughput metrics need."""
        kind, (n_exp, d_exp) = op["kind"], op["expect"]
        info: dict = {}
        if kind in ("ingest", "append"):
            parts = out["parts"].values()
            ok = sum(int(p["n_rows"]) for p in parts) == n_exp
            info["snapshot_id"] = out["snapshot_id"]
            if kind == "ingest":
                info["bytes_in"] = self.inputs.src_arrow_bytes
                info["stored"] = dir_bytes(p["file"] for p in parts)
                info["snappy"] = self.inputs.src_snappy_bytes
            return ok, info
        if kind == "count":
            return int(out) == n_exp, info
        if kind == "full_read":
            info["bytes_out"] = out.nbytes
        return self.inputs.oracle.digest(out) == (n_exp, d_exp), info

    def execute(self, op: dict) -> dict:
        from spans import tree_cpu_s
        self.op_id += 1
        err = None
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self._sp(f"op.{op['kind']}", self.op_id):
                if self.rec is not None and op["kind"] != "ingest":
                    self._resolve()
                out = self._do(op)
        except Exception:
            err = traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        ok, info = False, {}
        if err is None:
            try:
                if self.rec is not None and op["kind"] in ("lookup",
                                                           "range_scan"):
                    self.files_kept.append(self._files_kept())
                ok, info = self._check(op, out)
                if not ok:
                    err = f"wrong answer for {op['kind']} {op['params']}"
            except Exception:
                err = traceback.format_exc()
        if err:
            print(f"op failed: {err}", file=sys.stderr)
        return {"kind": op["kind"], "round": op["round"], "wall": wall,
                "cpu": cpu, "ok": ok, **info}

    def loop(self, rounds, n: int) -> list[dict]:
        """Closed loop over the next `n` rounds of the plan."""
        results: list[dict] = []
        for ops in itertools.islice(rounds, n):
            for op in ops:
                if op["kind"] == "ingest":
                    self._drop_old_tables()
                results.append(self.execute(op))
        return results

    def _drop_old_tables(self) -> None:
        for i in range(1, self.n_tables + 1):
            shutil.rmtree(os.path.join(self.work, f"table-{i}"),
                          ignore_errors=True)


def rounds_of(ops: list[dict]):
    """Group the planned op list into its rounds (a generator shared by
    consecutive loops, so a later loop continues the plan)."""
    cur, r = [], None
    for op in ops:
        if r is not None and op["round"] != r:
            yield cur
            cur = []
        cur.append(op)
        r = op["round"]
    if cur:
        yield cur


def timed_rounds(seconds: float) -> int:
    """Rounds one loop times: about `seconds` of op time, the same
    number in every run, so every run's medians cover the same ops."""
    return max(MIN_ROUNDS, round(seconds / ROUND_S))


def setup(workload: str, seed: int, work: str, n_rounds: int):
    """Generate the inputs and the oracle's answers SETUP_REPS times;
    returns the last set-up and every set-up's duration."""
    from inputs import Inputs
    times, inputs = [], None
    for rep in range(SETUP_REPS):
        if inputs is not None:
            inputs.oracle.close()
            shutil.rmtree(inputs.root, ignore_errors=True)
        t0 = time.perf_counter()
        inputs = Inputs(os.path.join(work, f"setup-{rep}"), seed, workload,
                        N_DOCS, BATCH_ROWS, n_rounds, SERIES_APPENDS)
        times.append(time.perf_counter() - t0)
    return inputs, times


def end_to_end(results: list[dict], setup_s: float) -> tuple[dict, dict]:
    """Latency and throughput from the ops that answered correctly, as
    medians over the run's samples; failed ops still count in the op
    rate, the tail and ok_op_ratio.  The op rate is the median of the
    rounds' rates."""
    from spans import median, tail_percentile
    by: dict[str, list[dict]] = {}
    for r in results:
        if r["ok"]:
            by.setdefault(r["kind"], []).append(r)
    writes = by["ingest"]
    walls = [r["wall"] for r in results]
    per_round: dict[int, list[float]] = {}
    for r in results:
        per_round.setdefault(r["round"], []).append(r["wall"])
    tail, pct, n = tail_percentile(walls)
    reads = by["full_read"]

    def p50(kind):
        return median([r["wall"] for r in by[kind]])

    metrics = {
        "setup_s": setup_s,
        "ingest_mb_s": median([r["bytes_in"] / 1e6 / r["wall"]
                               for r in writes]),
        "ingest_cpu_s_per_gb": median([r["cpu"] / (r["bytes_in"] / 1e9)
                                       for r in writes]),
        "stored_bytes_per_input_byte": median(
            [r["stored"] / r["bytes_in"] for r in writes]),
        "size_vs_parquet_snappy": median(
            [r["stored"] / r["snappy"] for r in writes]),
        "lookup_s_p50": p50("lookup"),
        "ds_lookup_s_p50": p50("ds_lookup"),
        "range_scan_s_p50": p50("range_scan"),
        "count_s_p50": p50("count"),
        "append_s_p50": p50("append"),
        "read_mb_s": median([r["bytes_out"] / 1e6 / r["wall"]
                             for r in reads]),
        "mix_ops_per_s": median([len(w) / sum(w)
                                 for w in per_round.values()]),
        "mix_op_s_tail": tail,
        "ok_op_ratio": sum(r["ok"] for r in results) / len(results),
    }
    detail = {"mix_op_s_tail": {"percentile": pct, "samples": n,
                                "beyond": 10},
              "op_walls": {k: [round(r["wall"], 3) for r in v]
                           for k, v in by.items()},
              "measured_s": sum(walls)}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_spark", "__init__.py")):
        print(f"perfbench: no parquet_spark package under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import metrics as catalogue
    from spans import median
    cores = max(1, min(2, len(os.sched_getaffinity(0))))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    phases = {}
    t0 = time.perf_counter()

    def phase(name):
        nonlocal t0
        t1 = time.perf_counter()
        phases[name] = round(t1 - t0, 3)
        t0 = t1

    try:
        spark = start_spark(work, cores)
        phase("spark_start")
        n_timed = timed_rounds(args.seconds)
        # warm-up, the timed loop and (traced runs) the traced loop
        n_rounds = WARM_ROUNDS + 2 * n_timed
        inputs, setup_times = setup(args.workload, args.seed, work,
                                    n_rounds)
        phase("setup")
        bench = Bench(spark, args.workload, cores, work, inputs,
                      range(n_rounds, n_rounds + SERIES_APPENDS))
        rounds = rounds_of(inputs.ops)
        # warm-up: untimed rounds (JVM, Python workers, the DataSource
        # planner); their answers are checked all the same
        warm = bench.loop(rounds, WARM_ROUNDS)
        phase("warmup")
        results = bench.loop(rounds, n_timed)
        phase("loop")
        if args.trace:
            from layers import per_layer
            metrics, detail = per_layer(bench, rounds, n_timed, results,
                                        os.path.join(base, "traces"), args)
            names = catalogue.PER_LAYER
        else:
            metrics, detail = end_to_end(results, median(setup_times))
            names = catalogue.END_TO_END
        attempted = len(warm) + len(results) + detail.pop("extra_ops", 0)
        failed = sum(not r["ok"] for r in warm + results) + \
            detail.pop("extra_failed", 0)
        inputs.oracle.close()
        phase("report")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        phase("stop")
    detail["phases_s"] = phases
    detail["warm_s"] = [[r["kind"], round(r["wall"], 3)] for r in warm]
    detail["setup_reps_s"] = [round(t, 3) for t in setup_times]
    missing = sorted(set(names) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": names[n][0]}
                    for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
