"""CommitBackend: the pluggable atomic-commit primitive.

The snapshot chain's only storage-specific piece is the compare-and-swap
on the table pointer.  These tests drive it through the interface (so an
object-store backend is a drop-in) and pin the generation-chain
protocol every table uses: exactly one winner per parent, a head search
that stays correct across power-of-two generation counts, liveness
after writers are killed mid-commit, and the read shim for tables whose
pointer is a legacy CURRENT file.

No Spark needed — commit() is pure driver-side code.
"""

import json
import os
import tempfile
import threading
import time

import pytest

from parquet_spark.manifest import (CommitBackend, ConcurrentCommitError,
                                    ConditionalPutCommitBackend,
                                    EncodedTable)


def _mk_table():
    return tempfile.mkdtemp(prefix="cb_tbl_")


def test_commit_and_read_through_backend():
    path = _mk_table()
    t = EncodedTable(path)
    snap = t.commit({"0": {"file": "f", "n_rows": 1}}, None, None)
    assert snap["snapshot_id"] == 0
    cur = t.backend.current()
    assert cur.startswith("snap-000000-")  # unique per-attempt name
    assert cur == snap["_snap_name"]
    got = json.loads(t.backend.read(cur))
    assert got["parts"]["0"]["n_rows"] == 1
    assert "_snap_name" not in got  # never serialized


def test_same_parent_race_has_exactly_one_winner():
    """N threads race a commit with the same parent on the default
    backend: exactly one commit wins, the rest raise
    ConcurrentCommitError, and the head names a snapshot whose file
    content matches (no half-commit, no clobber)."""
    path = _mk_table()
    results, errors = [], []
    barrier = threading.Barrier(8)

    def attempt(i):
        t = EncodedTable(path)
        barrier.wait()
        try:
            t.commit({"0": {"writer": i}}, None, None)
            results.append(i)
        except ConcurrentCommitError:
            pass
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(results) == 1, results  # exactly one winner
    t = EncodedTable(path)
    snap = t.current_snapshot()
    assert snap["snapshot_id"] == 0
    assert snap["parts"]["0"]["writer"] == results[0]
    assert os.listdir(os.path.join(path, "ptr")) == ["gen-" + "1".zfill(16)]


def test_concurrent_chained_commits_never_lose_an_update():
    """Writers repeatedly CAS-retry against a moving CURRENT; every
    successful commit's parent must be the previous snapshot (a lost
    update would fork the chain)."""
    path = _mk_table()
    t0 = EncodedTable(path)
    t0.commit({}, None, None)
    n_ok = []

    def writer(wid):
        t = EncodedTable(path)
        done = 0
        while done < 5:
            parent = t.current_snapshot()
            parts = dict(parent["parts"])
            parts[f"w{wid}-{done}"] = {"writer": wid}
            try:
                t.commit(parts, None, parent, meta=parent.get("meta"))
                done += 1
            except ConcurrentCommitError:
                time.sleep(0.002)
        n_ok.append(done)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert sum(n_ok) == 20
    final = EncodedTable(path).current_snapshot()
    assert final["snapshot_id"] == 20  # 1 root + 20 chained commits
    assert len(final["parts"]) == 20   # nothing lost
    # chain integrity: every snapshot's parent exists and precedes it
    snaps = sorted(os.listdir(os.path.join(path, "snapshots")))
    assert len(snaps) == 21


class _MemBackend(CommitBackend):
    """Models an object-store/catalog backend: conditional-PUT CAS, no
    lock object, nothing on the local filesystem."""

    def __init__(self):
        self._snaps: dict[str, str] = {}
        self._current: str | None = None
        self._mu = threading.Lock()

    def current(self):
        return self._current

    def read(self, name):
        return self._snaps[name]

    def commit(self, name, payload, expected):
        with self._mu:  # the store's conditional PUT
            if self._current != expected:
                raise ConcurrentCommitError(
                    f"pointer is {self._current!r}, expected {expected!r}")
            self._snaps[name] = payload
            self._current = name


def test_encoded_table_runs_on_a_pluggable_backend():
    """EncodedTable must route every read and the commit point through
    the backend — proven by a memory backend leaving no CURRENT or
    snapshots/ files on disk."""
    path = _mk_table()
    mem = _MemBackend()
    t = EncodedTable(path, backend=mem)
    s0 = t.commit({"0": {"n_rows": 5}}, None, None)
    s1 = t.commit({"0": {"n_rows": 5}, "1": {"n_rows": 7}}, None, s0)
    assert s1["parent_id"] == 0
    assert t.current_snapshot()["snapshot_id"] == 1
    assert t.committed_parts()["1"]["n_rows"] == 7
    with pytest.raises(ConcurrentCommitError):
        t.commit({}, None, s0)  # stale parent refused by the store CAS
    assert not os.path.exists(os.path.join(path, "CURRENT"))
    assert not os.path.exists(os.path.join(path, "snapshots"))


def test_block_codec_spec_validated_eagerly():
    """A typo'd block codec must fail at the entry point, not mid-job
    once some chunk exceeds the small-body threshold."""
    import pyarrow as pa

    from parquet_spark.codecs.column import (encode_column,
                                             validate_block_codec)
    with pytest.raises(ValueError, match="unknown block codec"):
        validate_block_codec("lzo")
    with pytest.raises(ValueError):
        validate_block_codec("zstd:notanint")
    # even a tiny chunk (body <= 64 B, would have been raw) validates
    with pytest.raises(ValueError, match="unknown block codec"):
        encode_column(pa.array([1, 2]), block_codec="lzo")
    validate_block_codec("auto")
    validate_block_codec("none")
    validate_block_codec("zstd:9")


def test_float_zone_bound_classification():
    """Float bounds are numeric (they prune via BOTH numeric zone
    families — the double arrays for float columns, the int arrays for
    int/timestamp columns); NaN and bool bounds raise."""
    import numpy as np

    from parquet_spark.engine import _is_numeric_bound
    assert _is_numeric_bound(1.5)
    assert _is_numeric_bound(np.float64(2.0))
    with pytest.raises(TypeError, match="NaN"):
        _is_numeric_bound(float("nan"))
    with pytest.raises(TypeError, match="boolean"):
        _is_numeric_bound(True)
    assert _is_numeric_bound(3)
    assert _is_numeric_bound(np.int64(3))
    assert _is_numeric_bound(np.datetime64("2020-01-01"))
    assert not _is_numeric_bound("abc")


def test_conditional_put_backend_contract():
    """The object-store contract exercised locally: put-if-absent
    generation objects, no lock state, exactly-one-winner CAS, and the
    loser leaves nothing behind (never a pointer change)."""
    path = _mk_table()
    t = EncodedTable(path, backend=ConditionalPutCommitBackend(path))
    s0 = t.commit({"0": {"n_rows": 1}}, None, None)
    assert t.backend.current() == s0["_snap_name"]
    assert json.loads(t.backend.read(s0["_snap_name"]))["snapshot_id"] == 0
    # CAS against a stale parent refuses without moving the pointer
    with pytest.raises(ConcurrentCommitError):
        t.commit({"1": {}}, None, None)  # expected=None but head exists
    assert t.backend.current() == s0["_snap_name"]
    s1 = t.commit({"1": {}}, None, t.current_snapshot())
    assert t.current_snapshot()["snapshot_id"] == 1
    # two immutable generations exist; nothing was overwritten
    gens = sorted(os.listdir(os.path.join(path, "ptr")))
    assert gens == ["gen-" + "1".zfill(16), "gen-" + "2".zfill(16)]
    assert json.loads(t.backend.read(s1["_snap_name"]))["parts"] == {"1": {}}


def test_head_search_across_power_of_two_generation_counts():
    """The head is found by galloping and bisecting over the dense
    generations, so an off-by-one would show at the power-of-two
    boundaries.  After every commit up to 1025 generations, current()
    must name the newest snapshot from the committing handle (search
    resumes at the generation it last saw), from a fresh handle (full
    search from gen-1), and from an observer that only looks at
    1, 2, 3, 4, 5, 1023, 1024 and 1025 (search jumps over a gap)."""
    path = _mk_table()
    be = ConditionalPutCommitBackend(path)
    observer = ConditionalPutCommitBackend(path)
    prev = None
    for gen in range(1, 1026):
        name = f"snap-{gen:06d}.json"
        be.commit(name, "{}", prev)
        prev = name
        assert be.current() == name
        assert ConditionalPutCommitBackend(path)._head() == (gen, name)
        if gen in (1, 2, 3, 4, 5, 1023, 1024, 1025):
            assert observer.current() == name


def test_legacy_current_file_is_the_head_until_gen_1_exists():
    """A table written before the generation chain keeps its pointer
    in a CURRENT file.  With no gen-1, that file is the head at
    generation 0; the next commit CASes against it, links gen-1, and
    from then on the chain alone is the pointer."""
    path = _mk_table()
    be = ConditionalPutCommitBackend(path)
    assert be._head() == (0, None)
    with open(os.path.join(path, "CURRENT"), "w") as f:
        f.write("snap-000000-legacy.json\n")
    assert be._head() == (0, "snap-000000-legacy.json")
    with pytest.raises(ConcurrentCommitError):
        be.commit("snap-000001-a.json", "{}", None)
    be.commit("snap-000001-b.json", "{}", "snap-000000-legacy.json")
    assert be._head() == (1, "snap-000001-b.json")
    assert ConditionalPutCommitBackend(path).current() == \
        "snap-000001-b.json"


_WRITER_SRC = '''
import os, random, sys, time
sys.path.insert(0, {repo!r})
from parquet_spark.manifest import ConcurrentCommitError, EncodedTable
path, n, wid, log = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
t = EncodedTable(path)
done = 0
while done < n:
    parent = t.current_snapshot()
    parts = dict(parent["parts"]) if parent else {{}}
    key = f"w{{wid}}-{{done}}"
    parts[key] = {{"writer": wid}}
    try:
        t.commit(parts, None, parent,
                 meta=(parent or {{}}).get("meta"))
    except ConcurrentCommitError:
        time.sleep(random.random() * 0.01)
        continue
    with open(log, "a") as f:
        f.write(key + chr(10))
        f.flush(); os.fsync(f.fileno())
    done += 1
    time.sleep(random.random() * 0.01)
'''


def test_multi_writer_kill_schedule_stress(tmp_path):
    """N writer PROCESSES CAS-retry against one table while two of
    them are SIGKILLed mid-flight; replacements then join.  Invariants
    under every kill schedule: no logged (=acknowledged) commit is
    ever lost, the chain stays linear (snapshot_id == part count, one
    part per commit), and the table stays LIVE — there is no lock for
    a killed writer to leak."""
    import signal
    import subprocess
    import sys as _sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "tbl")
    script = str(tmp_path / "writer.py")
    with open(script, "w") as f:
        f.write(_WRITER_SRC.format(repo=repo))

    def spawn(wid, n):
        log = str(tmp_path / f"log-{wid}")
        p = subprocess.Popen([_sys.executable, script, path, str(n),
                              wid, log])
        return p, log

    procs = [spawn(f"a{i}", 6) for i in range(5)]
    time.sleep(0.35)
    for p, _ in procs[:2]:          # kill two mid-flight
        p.send_signal(signal.SIGKILL)
    for p, _ in procs[2:]:
        assert p.wait(120) == 0
    for p, _ in procs[:2]:
        p.wait(10)
    # liveness after the kills: fresh writers must still commit
    procs2 = [spawn(f"b{i}", 3) for i in range(2)]
    for p, _ in procs2:
        assert p.wait(120) == 0

    final = EncodedTable(path).current_snapshot()
    parts = final["parts"]
    logged = []
    for _, log in procs + procs2:
        if os.path.exists(log):
            logged += [ln.strip() for ln in open(log) if ln.strip()]
    assert len(logged) >= 3 * 6 + 2 * 3    # survivors all acknowledged
    lost = [k for k in logged if k not in parts]
    assert not lost, f"acknowledged commits lost: {lost}"
    # linear chain: the FIRST commit creates snapshot_id 0 with one
    # part and every later commit adds exactly one — id == parts - 1
    assert final["snapshot_id"] == len(parts) - 1
    # a killed writer may have an unacknowledged tail commit, never a
    # duplicated or forked one
    assert len(parts) >= len(set(logged))


@pytest.mark.spark
def test_write_resume_read_through_conditional_put_backend(spark, tmp_path):
    """Full encode -> resume -> decode cycle with every commit routed
    through the conditional-PUT backend: no CURRENT file and no lock
    object ever exist on disk — pointer state is the immutable
    generation chain only."""
    from pyspark.sql import functions as F

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.datasource import register
    from parquet_spark.manifest import read_decoded, write_encoded
    df = gen_corpus(spark, 300, seed=31, parts=3).select(
        "url", "warc_ts", "lang", "text")
    path = str(tmp_path / "tbl")
    be = ConditionalPutCommitBackend(path)
    write_encoded(df, path, key=["url"], n_parts=3, limit_parts=1,
                  backend=be)
    write_encoded(df, path, key=["url"], n_parts=3, backend=be)
    assert not os.path.exists(os.path.join(path, "CURRENT"))
    assert not os.path.exists(os.path.join(path, "COMMIT_LOCK"))
    gens = sorted(os.listdir(os.path.join(path, "ptr")))
    assert len(gens) == 2                      # one per commit
    dec = read_decoded(spark, path, backend=be)
    assert dec.count() == 300
    assert dec.select(*df.columns).exceptAll(df).count() == 0
    # the DataSource opens tables with the default backend and must see
    # the same pointer
    register(spark)
    ds = spark.read.format("parquet_spark").load(path)
    assert ds.select(*df.columns).exceptAll(df).count() == 0
    assert ds.count() == 300


def test_lifecycle_verbs_through_conditional_put_backend(spark, tmp_path):
    """The session-5 maintenance verbs (binpack, expire, rollback,
    cherry-pick, rollup refresh) each route every snapshot read and
    CAS through the conditional-PUT backend — the executable proof
    that the object-store contract covers the whole lifecycle, not
    just plain writes."""
    from pyspark.sql import functions as F

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import (ConditionalPutCommitBackend,
                                        EncodedTable, cherry_pick_snapshot,
                                        compact_small_parts,
                                        expire_snapshots, read_decoded,
                                        rollback_table, write_encoded)
    from parquet_spark.rollup import create_rollup, refresh_rollup

    df = gen_corpus(spark, 500, seed=127, parts=3)
    path = str(tmp_path / "tbl")
    be = ConditionalPutCommitBackend(path)
    write_encoded(df, path, key=["lang"], n_parts=4, backend=be)  # snap 0
    snap = compact_small_parts(spark, path, small_bytes=1 << 30,
                               target_bytes=1 << 30,
                               backend=be)                        # snap 1
    assert snap["meta"]["binpack"]["rewrote"] >= 2

    snap = rollback_table(path, snapshot_id=0, backend=be)        # snap 2
    assert snap["meta"]["rollback_of"]["snapshot_id"] == 0
    assert read_decoded(spark, path, backend=be).count() == 500

    # WAP branch + selective publish, all through the backend
    extra = gen_corpus(spark, 120, seed=128, parts=1)
    write_encoded(extra, path, key=["lang"], n_parts=4, part_offset=4,
                  branch="aud", backend=be)
    snap = cherry_pick_snapshot(path, ref="aud", backend=be)      # snap 3
    assert snap["meta"]["cherry_picked_from"]["snapshot_id"] == 3
    assert read_decoded(spark, path, backend=be).count() == 620

    rep = expire_snapshots(path, keep_last=2, older_than_s=0.0,
                           backend=be)
    assert rep["expired"] and rep["tombstone"]
    hist = [s["snapshot_id"] for s in
            EncodedTable(path, backend=be).history()]
    assert hist == [2, 3]

    # rollup over the backend-routed source
    roll = str(tmp_path / "roll")
    rbe = ConditionalPutCommitBackend(roll)
    create_rollup(spark, path, roll, group_cols=["lang"],
                  aggs={"n": ("count", "*")}, backend=rbe,
                  src_backend=be)
    got = {r.lang: r.n for r in read_decoded(spark, roll,
                                             backend=rbe).collect()}
    want = {r.lang: r.n for r in
            read_decoded(spark, path, backend=be).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    # the default backend reads the same generation chain, so refresh
    # reaches the source with no src_backend argument
    assert refresh_rollup(spark, roll, backend=rbe)["refreshed"] is False
    # pointer state stayed pure generation-chain throughout
    assert not os.path.exists(os.path.join(path, "CURRENT"))
    assert not os.path.exists(os.path.join(path, "COMMIT_LOCK"))


@pytest.mark.spark
def test_legacy_current_table_reads_and_continues_its_chain(spark,
                                                            tmp_path):
    """A table laid out the pre-generation-chain way (snapshot JSON +
    CURRENT file, no ptr/) reads through the library and through the
    DataSource, and one append continues its chain: the new snapshot's
    parent is the legacy one and gen-1 now holds the pointer."""
    import shutil

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.datasource import register
    from parquet_spark.manifest import read_decoded, write_encoded
    cols = ["url", "warc_ts", "lang", "text"]
    df = gen_corpus(spark, 200, seed=41, parts=2).select(*cols)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=2)
    legacy = EncodedTable(path).backend.current()
    shutil.rmtree(os.path.join(path, "ptr"))
    with open(os.path.join(path, "CURRENT"), "w") as f:
        f.write(legacy)
    assert sorted(os.listdir(os.path.join(path, "snapshots"))) == [legacy]

    assert read_decoded(spark, path).count() == 200
    register(spark)
    ds = spark.read.format("parquet_spark").load(path)
    assert ds.select(*cols).exceptAll(df).count() == 0

    extra = gen_corpus(spark, 50, seed=43, parts=1).select(*cols)
    snap = write_encoded(extra, path, key=["url"], n_parts=2,
                         part_offset=2)
    assert snap["snapshot_id"] == 1
    assert snap["parent_name"] == legacy
    assert os.listdir(os.path.join(path, "ptr")) == ["gen-" + "1".zfill(16)]
    assert read_decoded(spark, path).count() == 250
    assert [s["_snap_name"] for s in EncodedTable(path).history()] == \
        [legacy, snap["_snap_name"]]


@pytest.mark.spark
def test_rollup_over_custom_backend_source_needs_src_backend(spark,
                                                             tmp_path):
    """Nothing on disk says how to reach a source committed through a
    custom backend, so a refresh without `src_backend=` fails loudly
    instead of reading an empty table."""
    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import write_encoded
    from parquet_spark.rollup import create_rollup, refresh_rollup
    src, roll = str(tmp_path / "src"), str(tmp_path / "roll")
    mem = _MemBackend()
    write_encoded(gen_corpus(spark, 100, seed=47, parts=1), src,
                  key=["lang"], n_parts=2, backend=mem)
    create_rollup(spark, src, roll, group_cols=["lang"],
                  aggs={"n": ("count", "*")}, src_backend=mem)
    with pytest.raises(ValueError, match="src_backend"):
        refresh_rollup(spark, roll)
    assert refresh_rollup(spark, roll, src_backend=mem)["mode"] == "noop"
