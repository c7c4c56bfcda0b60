"""Spark-free tests of the benchmark's helpers:

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from spans import (Span, SpanRecorder, self_times, slope,  # noqa: E402
                   tail_percentile, tree_cpu_s)


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [Span("op", 0.0, 10.0, None, 1),
             Span("a", 1.0, 4.0, 0, 1),
             Span("b", 3.0, 6.0, 0, 1),      # overlaps a: [1, 6) covered
             Span("c", 8.0, 12.0, 0, 1),     # sticks out: only [8, 10)
             Span("a.inner", 1.5, 3.5, 1, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(2.0)


def test_self_time_of_nested_children_never_negative():
    spans = [Span("op", 0.0, 1.0, None, 1),
             Span("x", 0.0, 1.0, 0, 1),
             Span("y", -1.0, 2.0, 0, 1)]
    assert self_times(spans)[0] == pytest.approx(0.0)


def test_recorder_links_parents_and_op_ids(tmp_path):
    rec = SpanRecorder()
    with rec.span("op.lookup", op_id=7):
        with rec.span("manifest.scan_table"):
            pass
        with rec.span("manifest.scan_exec"):
            pass
    with rec.span("op.count", op_id=8):
        pass
    assert [s.parent for s in rec.spans] == [None, 0, 0, None]
    assert [s.op_id for s in rec.spans] == [7, 7, 7, 8]
    out = tmp_path / "trace.json"
    rec.dump(str(out))
    rows = json.loads(out.read_text())
    assert rows[0]["self"] == pytest.approx(
        (rows[0]["end"] - rows[0]["start"])
        - (rows[1]["end"] - rows[1]["start"])
        - (rows[2]["end"] - rows[2]["start"]))


@pytest.mark.parametrize("n,rank", [(11, 0), (12, 1), (20, 9), (100, 89)])
def test_tail_percentile_keeps_ten_samples_beyond(n, rank):
    values = [float(i) for i in range(n)][::-1]  # any order
    value, pct, count = tail_percentile(values)
    assert value == rank
    assert count == n
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_slope():
    assert slope([1, 2, 3, 4], [2.0, 4.0, 6.0, 8.0]) == pytest.approx(2.0)
    assert slope([3, 3], [1.0, 5.0]) == 0.0


def _fake_proc(root, rows):
    for pid, comm, ppid, ticks in rows:
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] + \
            ["0"] * 30
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields))


def test_tree_cpu_sums_descendants_and_their_reaped_children(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, [
        (100, "python3", 1, (10, 5, 0, 0)),
        (101, "java (x) y", 100, (200, 20, 0, 0)),   # odd comm
        (102, "python3", 101, (30, 3, 40, 7)),       # daemon: reaped kids
        (200, "other", 1, (999, 999, 0, 0)),         # not ours
    ])
    (tmp_path / "self").mkdir()                      # non-pid entries
    assert tree_cpu_s(100, str(tmp_path)) == pytest.approx(
        (15 + 220 + 80) / tick)


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert doc == metrics.benchmark_json(doc["run_seconds"])


def test_oracle_answers_are_additive_over_appended_batches(tmp_path):
    from inputs import Inputs, where_of
    inp = Inputs(str(tmp_path), seed=5, workload="ingest_splits",
                 n_docs=64, batch_rows=8, n_rounds=2, extra_batches=1)
    import pyarrow as pa
    import pyarrow.parquet as pq
    both = pa.concat_tables([pq.read_table(inp.src),
                             pq.read_table(inp.batches[0]["path"])])
    assert inp.oracle.expect("true", (0,)) == inp.oracle.digest(both)
    assert inp.oracle.expect("true", ())[0] == 64
    for op in inp.ops:
        n, _ = op["expect"]
        assert n >= (1 if op["kind"] in ("lookup", "ds_lookup") else 0)
        if op["kind"] == "range_scan":
            assert "BETWEEN" in where_of(op)
    for r in range(2):
        kinds = [op["kind"] for op in inp.ops if op["round"] == r]
        assert kinds == ["ingest", "full_read", "lookup", "ds_lookup",
                         "range_scan", "count", "append"]
    inp.oracle.close()
