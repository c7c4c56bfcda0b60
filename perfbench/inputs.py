"""Benchmark inputs and the answer oracle.

Everything here is set-up: the corpus is generated from the seed with
`parquet_spark.corpus.gen_batch` (the per-partition body of
`gen_corpus`, so the rows are the ones `gen_corpus` would produce),
written as snappy parquet, and DuckDB — not the engine — computes the
expected answer of every planned op.  The program under test only ever
sees the parquet files.
"""

from __future__ import annotations

import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_spark.corpus import LANGS, gen_batch

# order-independent row digest: DuckDB's 64-bit hash of every column,
# summed as HUGEINT (no overflow) next to the row count
DIGEST = "hash(url, epoch_us(warc_ts), html, text, lang)::HUGEINT"
ROUND = ["ingest", "full_read", "lookup", "ds_lookup", "range_scan", "count",
         "append"]
# round r scans at RANGE_SELECTIVITIES[r % 3], so any three consecutive
# rounds hold the same selectivity mix
RANGE_SELECTIVITIES = [0.01, 0.05, 0.2]
COUNT_LANGS = LANGS[:6]
ROW_GROUPS = 8  # the splits writer makes one part per parquet row group


def render_html(tbl: pa.Table) -> pa.Array:
    """Compressible html rendered from each row's own url and text;
    null wherever the generated (random-byte) html is null, so both
    corpora share their null pattern."""
    paras = pc.replace_substring(tbl["text"], ". ", ".</p>\n<p>")
    doc = pc.binary_join_element_wise(
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>",
        tbl["url"],
        "</title><link rel=\"canonical\" href=\"", tbl["url"],
        "\"></head><body><nav><a href=\"/\">home</a> | "
        "<a href=\"/about\">about</a></nav><article><p>", paras,
        "</p></article><footer>archived page</footer></body></html>", "")
    html = pc.if_else(pc.is_null(tbl["html"]),
                      pa.scalar(None, pa.string()), doc)
    return html.cast(pa.binary())


def make_rows(seed: int, lo: int, n: int, html: str) -> pa.Table:
    """Rows [lo, lo+n) of the corpus for `seed`; html 'random' keeps
    the generator's incompressible bytes, 'rendered' replaces them."""
    batch = gen_batch(np.arange(lo, lo + n, dtype=np.uint64), seed=seed)
    tbl = pa.Table.from_batches([batch])
    # tz-aware micros: Spark reads the column as TIMESTAMP, the type
    # gen_corpus declares
    tbl = tbl.set_column(1, "warc_ts",
                         tbl["warc_ts"].cast(pa.timestamp("us", tz="UTC")))
    if html == "rendered":
        tbl = tbl.set_column(2, "html", render_html(tbl))
    return tbl


def write_parquet(tbl: pa.Table, path: str, row_groups: int = 1) -> int:
    """Snappy parquet (the size reference); returns its size in bytes."""
    pq.write_table(tbl, path, compression="snappy",
                   row_group_size=max(1, -(-tbl.num_rows // row_groups)))
    return os.path.getsize(path)


class Oracle:
    """Expected answers computed by DuckDB over the generated rows.

    Answers are (row count, digest) and additive over disjoint row
    sets, so the answer for a table holding the base rows plus some
    appended batches is the sum of per-batch answers."""

    def __init__(self, base: pa.Table, pool: list[pa.Table]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        parts = [base.append_column("batch", pa.array(
            np.full(base.num_rows, -1, np.int32)))]
        for j, t in enumerate(pool):
            parts.append(t.append_column("batch", pa.array(
                np.full(t.num_rows, j, np.int32))))
        rows = pa.concat_tables(parts)
        self.con.register("rows_arrow", rows)
        self.con.execute("CREATE TABLE rows AS SELECT * FROM rows_arrow")
        self.con.unregister("rows_arrow")
        self._cache: dict[str, dict[int, tuple[int, int]]] = {}

    def _by_batch(self, where: str) -> dict[int, tuple[int, int]]:
        if where not in self._cache:
            res = self.con.execute(
                f"SELECT batch, count(*), coalesce(sum({DIGEST}), 0) "
                f"FROM rows WHERE {where} GROUP BY batch").fetchall()
            self._cache[where] = {b: (int(n), int(d)) for b, n, d in res}
        return self._cache[where]

    def expect(self, where: str, batches: tuple[int, ...]) -> tuple[int, int]:
        by = self._by_batch(where)
        n = d = 0
        for b in (-1, *batches):
            bn, bd = by.get(b, (0, 0))
            n, d = n + bn, d + bd
        return n, d

    def digest(self, tbl: pa.Table) -> tuple[int, int]:
        """(count, digest) of an engine result, by the same formula."""
        self.con.register("result_arrow", tbl)
        try:
            n, d = self.con.execute(
                f"SELECT count(*), coalesce(sum({DIGEST}), 0) "
                "FROM result_arrow").fetchone()
        finally:
            self.con.unregister("result_arrow")
        return int(n), int(d)

    def close(self) -> None:
        self.con.close()


def where_of(op: dict) -> str:
    kind, p = op["kind"], op["params"]
    if kind in ("lookup", "ds_lookup"):
        return f"url = '{p['url']}'"
    if kind == "range_scan":
        return f"epoch_us(warc_ts) BETWEEN {p['lo']} AND {p['hi']}"
    if kind == "count":
        return f"lang = '{p['lang']}'"
    return "true"  # full_read, ingest, append: the whole table


def plan_ops(rng: random.Random, base: pa.Table, n_rounds: int) -> list[dict]:
    """The op sequence, `n_rounds` rounds long.  A round writes the
    corpus into a fresh table, reads it all back (the ingest check),
    then runs the other op types.  The order is the same in every
    round, so an op always follows the same op; the seed picks each
    op's arguments.  Each op records which appended batches the table
    holds while it runs."""
    urls = base["url"]
    n_docs = base.num_rows
    # base rows only: appended rows have later ids, hence later
    # timestamps, so ranges inside this span never see them
    span_us = (n_docs - 8) * 2_000_000
    t0 = pc.min(base["warc_ts"]).value
    ops: list[dict] = []
    for r in range(n_rounds):
        held: tuple[int, ...] = ()
        for kind in ROUND:
            params: dict = {}
            if kind in ("lookup", "ds_lookup"):
                params["url"] = urls[rng.randrange(n_docs)].as_py()
            elif kind == "range_scan":
                sel = RANGE_SELECTIVITIES[r % len(RANGE_SELECTIVITIES)]
                lo = t0 + int(rng.random() * (1 - sel) * span_us)
                params.update(sel=sel, lo=lo, hi=lo + int(sel * span_us))
            elif kind == "count":
                params["lang"] = rng.choice(COUNT_LANGS)
            elif kind == "append":
                params["batch"] = r
                held = (r,)
            ops.append({"kind": kind, "round": r, "params": params,
                        "held": held})
    return ops


class Inputs:
    """The generated files of one set-up, plus the planned ops with
    their expected answers."""

    def __init__(self, root: str, seed: int, workload: str, n_docs: int,
                 batch_rows: int, n_rounds: int, extra_batches: int):
        os.makedirs(root, exist_ok=True)
        self.root = root
        html = "rendered" if workload == "ingest_splits" else "random"
        corpus_seed = seed % (1 << 31)
        self.base = make_rows(corpus_seed, 0, n_docs, html)
        self.src = os.path.join(root, "source.parquet")
        self.src_snappy_bytes = write_parquet(self.base, self.src, ROW_GROUPS)
        self.src_arrow_bytes = self.base.nbytes
        n_batches = n_rounds + extra_batches
        pool = make_rows(corpus_seed, n_docs, n_batches * batch_rows, html)
        slices = [pool.slice(j * batch_rows, batch_rows)
                  for j in range(n_batches)]
        self.batches = []
        for j, t in enumerate(slices):
            path = os.path.join(root, f"batch-{j:03d}.parquet")
            write_parquet(t, path)
            self.batches.append({"path": path, "rows": t.num_rows})
        self.oracle = Oracle(self.base, slices)
        self.ops = plan_ops(random.Random(seed), self.base, n_rounds)
        for op in self.ops:
            op["expect"] = self.oracle.expect(where_of(op), op["held"])
