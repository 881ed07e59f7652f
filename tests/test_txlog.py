"""Multi-writer transaction log: optimistic commits, snapshot isolation,
rebase-over-append compaction, conflict detection, crash invisibility,
vacuum safety.  Closes the single-writer gap documented at
plans/lake.py:306-318 — the reference has no analog (its readonly store
is rebuilt wholesale per release, readonly_dumping/)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from indra_db_spark.plans import txlog
from indra_db_spark.plans.txlog import CommitConflict, TxTable


def _df(spark, lo, hi, tag="w"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("src")
    )


@pytest.fixture(autouse=True)
def _no_hook():
    txlog._pre_commit_hook = None
    txlog._pre_claim_hook = None
    yield
    txlog._pre_commit_hook = None
    txlog._pre_claim_hook = None


def test_append_read_round_trip(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.append(_df(spark, 0, 10)) == 1
    assert t.append(_df(spark, 10, 15)) == 2
    assert t.read().count() == 15
    assert {r.k for r in t.read().collect()} == set(range(15))


def test_snapshot_isolation_across_commits(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    v1, _ = t.snapshot()
    pinned = t.read(v1)
    t.append(_df(spark, 10, 20))
    # the pinned snapshot still reads the version-1 file set; latest moved on
    assert pinned.count() == 10
    assert t.read().count() == 20
    assert t.read(v1).count() == 10


def test_concurrent_appends_all_commit(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    errs = []

    def worker(i):
        try:
            TxTable(spark, str(tmp_path / "t")).append(
                _df(spark, i * 100, i * 100 + 10, tag=f"w{i}")
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs
    v, files = t.snapshot()
    assert v == 4  # every commit holds a distinct version number
    assert t.read().count() == 40
    assert t.read().select("src").distinct().count() == 4


def test_append_retries_through_lost_race(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        other = TxTable(spark, str(tmp_path / "t"))
        txlog._pre_commit_hook = None  # the racer itself must not recurse
        other.append(_df(spark, 100, 105, tag="racer"))

    txlog._pre_commit_hook = racer
    v = t.append(_df(spark, 5, 10, tag="loser"))
    assert v == 3  # racer took v2 inside the window; append rebased to v3
    assert t.read().count() == 15


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, i * 10, i * 10 + 10))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).append(
            _df(spark, 900, 910, tag="late")
        )

    txlog._pre_commit_hook = racer
    v = t.compact(target_file_mb=128)
    assert v == 5  # 3 appends + racer(v4) + compact(v5)
    # the racer's rows survived the swap; the 3 compacted appends collapsed
    assert t.read().count() == 40
    _, files = t.snapshot()
    assert any("late" == r.src for r in t.read().collect())


def test_compact_conflict_aborts_cleanly(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(2):
        t.append(_df(spark, i * 10, i * 10 + 10))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).compact()

    txlog._pre_commit_hook = racer
    with pytest.raises(CommitConflict):
        t.compact()
    # the winning compaction's snapshot is intact; loser staged invisible
    # garbage only
    assert t.read().count() == 20
    reclaimed = t.vacuum(keep_versions=1, min_age_ms=0)
    assert reclaimed  # the aborted rewrite's files existed and were removed
    assert t.read().count() == 20


def test_crashed_writer_is_invisible_and_vacuumed(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    # a writer that staged files and died before claiming a version
    t._stage(_df(spark, 500, 600, tag="crash"))
    assert t.read().count() == 10
    removed = t.vacuum(keep_versions=2, min_age_ms=0)
    assert removed and t.read().count() == 10


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    t.compact()  # v3 rewrites; v1's files now only referenced by old log
    t.vacuum(keep_versions=1, min_age_ms=0)
    assert t.read().count() == 20
    with pytest.raises(Exception):
        t.read(version=1)  # pruned log entry is gone


def test_append_batch_idempotent_replay(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.append_batch(_df(spark, 0, 10), "writerA", 0) == 1
    assert t.append_batch(_df(spark, 10, 20), "writerA", 1) == 2
    # crash-between-commit-and-checkpoint replay of batch 1: skipped
    assert t.append_batch(_df(spark, 10, 20), "writerA", 1) is None
    assert t.read().count() == 20
    # a DIFFERENT writer's batch 1 is not confused with writerA's
    assert t.append_batch(_df(spark, 50, 55), "writerB", 1) == 3
    assert t.read().count() == 25
    # the watermark map survives unrelated commits (compaction)
    t.compact()
    assert t.append_batch(_df(spark, 10, 20), "writerA", 1) is None
    assert t.append_batch(_df(spark, 20, 30), "writerA", 2) is not None
    assert t.read().count() == 35


def test_stream_sink_exactly_once(spark, tmp_path):
    """Drive the real foreachBatch sink twice over the same source +
    checkpoint: the second run (a full replay shape — fresh query, same
    writer identity) must not duplicate rows."""
    from indra_db_spark.streaming.ingest import read_stream, write_stream_txlog

    src = str(tmp_path / "src")
    _df(spark, 0, 100).write.parquet(src)
    schema = spark.read.parquet(src).schema
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    write_stream_txlog(read_stream(spark, src, schema), table, ckpt)
    t = TxTable(spark, table)
    assert t.read().count() == 100

    # new files arrive; the restarted query commits only the delta
    _df(spark, 100, 130, tag="late").write.mode("append").parquet(src)
    write_stream_txlog(read_stream(spark, src, schema), table, ckpt)
    assert t.read().count() == 130
    assert {r.k for r in t.read().collect()} == set(range(130))

    # zombie replay: re-commit an already-committed batch id by hand
    v_before, _ = t.snapshot()
    assert t.append_batch(_df(spark, 0, 100), ckpt, 0) is None
    assert t.snapshot()[0] == v_before and t.read().count() == 130


def test_changes_feed_exactly_the_appended_rows(spark, tmp_path):
    """CDC read: changes(since) returns precisely the rows appended after
    `since`, is compaction-transparent (a rewrite commits no phantom
    changes), and composes with a consumer checkpointing its last-read
    version."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="a"))          # v1
    v_ckpt, _ = t.snapshot()
    t.append(_df(spark, 10, 25, tag="b"))         # v2
    t.append_batch(_df(spark, 25, 30, tag="c"), "w", 0)  # v3
    got = {r.k for r in t.changes(v_ckpt).collect()}
    assert got == set(range(10, 30))
    # bounded window: only v2's rows
    assert {r.k for r in t.changes(1, to_version=2).collect()} == set(
        range(10, 25)
    )
    # compaction introduces files but NO logical changes
    v_compact = t.compact()                        # v4
    assert t.changes(3, to_version=v_compact).count() == 0
    assert t.changes(3).limit(0).columns == ["k", "src"]  # schema preserved
    # appends after the compaction surface normally
    t.append(_df(spark, 30, 33, tag="d"))          # v5
    assert {r.k for r in t.changes(v_compact).collect()} == {30, 31, 32}
    # full-history read from the origin
    assert t.changes(0).count() == 33


# ------------------------------------------------------- merge / delete


def test_merge_upserts_and_preserves_untouched_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="old"))     # file(s) A: keys 0-9
    t.append(_df(spark, 10, 20, tag="old"))    # file(s) B: keys 10-19
    _, before = t.snapshot()
    ups = _df(spark, 5, 12, tag="new")          # overlaps both, inserts none
    v = t.merge(ups, ["k"])
    assert v == 3
    rows = {r.k: r.src for r in t.read().collect()}
    assert len(rows) == 20
    assert all(rows[k] == "new" for k in range(5, 12))
    assert all(rows[k] == "old" for k in list(range(5)) + list(range(12, 20)))
    # time travel: the pre-merge snapshot still shows the old rows
    assert {r.src for r in t.read(2).collect()} == {"old"}


def test_merge_inserts_new_keys_and_touches_no_file_without_match(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="old"))
    t.append(_df(spark, 10, 20, tag="old"))
    _, before = t.snapshot()
    # keys 100+ match nothing → pure insert; every existing file survives
    v = t.merge(_df(spark, 100, 105, tag="new"), ["k"])
    _, after = t.snapshot()
    assert set(before) <= set(after)
    assert t.read().count() == 25
    assert t.read(v).filter(F.col("src") == "new").count() == 5


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    dup = _df(spark, 1, 3).unionByName(_df(spark, 2, 4))
    with pytest.raises(ValueError, match="unique on the key"):
        t.merge(dup, ["k"])


def test_merge_conflicts_with_overlapping_concurrent_append(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="old"))

    def racing_append(table):
        txlog._pre_commit_hook = None
        TxTable(spark, table.root).append(_df(spark, 5, 8, tag="racer"))

    txlog._pre_commit_hook = racing_append
    with pytest.raises(CommitConflict, match="concurrent append"):
        t.merge(_df(spark, 5, 12, tag="new"), ["k"])
    txlog._pre_commit_hook = None
    # the racer's rows survive (as a second k=5 row — appends don't
    # replace) and nothing from the aborted merge is visible
    rows = t.read().collect()
    assert len(rows) == 13  # 10 old + 3 racer, zero "new"
    srcs_by_key: dict[int, set] = {}
    for r in rows:
        srcs_by_key.setdefault(r.k, set()).add(r.src)
    assert srcs_by_key[5] == {"old", "racer"}
    assert srcs_by_key[9] == {"old"}
    assert not any("new" in s for s in srcs_by_key.values())


def test_merge_rebases_over_disjoint_concurrent_append(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="old"))

    def racing_append(table):
        txlog._pre_commit_hook = None
        TxTable(spark, table.root).append(_df(spark, 50, 55, tag="racer"))

    txlog._pre_commit_hook = racing_append
    v = t.merge(_df(spark, 3, 6, tag="new"), ["k"])
    txlog._pre_commit_hook = None
    assert v == 3
    rows = {r.k: r.src for r in t.read().collect()}
    assert len(rows) == 15
    assert rows[3] == "new" and rows[50] == "racer" and rows[0] == "old"


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    _, before = t.snapshot()
    v = t.delete_where(F.col("k") == 7)
    _, after = t.snapshot()
    assert v == 3
    assert t.read().count() == 19
    assert t.read().filter(F.col("k") == 7).count() == 0
    # the file set holding keys 10-19 was not rewritten
    assert any(f in after for f in before)
    # no-match delete is a no-op returning None
    assert t.delete_where(F.col("k") == 999) is None
    # time travel still shows the deleted row
    assert t.read(2).filter(F.col("k") == 7).count() == 1


def test_changes_refuses_to_cross_row_mutating_commits(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.merge(_df(spark, 3, 5, tag="new"), ["k"])
    t.append(_df(spark, 20, 25))
    with pytest.raises(ValueError, match="row-mutating"):
        t.changes(0)
    # a range that starts after the merge works fine
    assert t.changes(2).count() == 5


# ------------------------------------------------- row-level change feed


def test_row_changes_classifies_insert_update_delete(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, tag="old"))          # v1
    t.merge(_df(spark, 8, 13, tag="new"), ["k"])    # v2: upd 8-9, ins 10-12
    t.delete_where(F.col("k") == 3)                 # v3
    feed = t.row_changes(["k"], since_version=1).collect()
    by_type: dict[str, set] = {}
    for r in feed:
        by_type.setdefault(r._change_type, set()).add(r.k)
    assert by_type["insert"] == {10, 11, 12}
    assert by_type["delete"] == {3}
    assert by_type["update_preimage"] == {8, 9}
    assert by_type["update_postimage"] == {8, 9}
    # images carry the right payloads
    pre = {r.k: r.src for r in feed if r._change_type == "update_preimage"}
    post = {r.k: r.src for r in feed if r._change_type == "update_postimage"}
    assert set(pre.values()) == {"old"} and set(post.values()) == {"new"}
    # unchanged rows are absent
    assert len(feed) == 3 + 1 + 2 + 2


def test_row_changes_bootstrap_and_bounded_window(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, tag="a"))             # v1
    t.merge(_df(spark, 0, 2, tag="b"), ["k"])       # v2
    # since 0 = full bootstrap: everything is an insert of the NEW image
    boot = t.row_changes(["k"], since_version=0).collect()
    assert {r._change_type for r in boot} == {"insert"}
    assert {(r.k, r.src) for r in boot if r.k < 2} == {(0, "b"), (1, "b")}
    # identical endpoints = empty feed with the full schema
    same = t.row_changes(["k"], since_version=2, to_version=2)
    assert same.count() == 0
    assert same.columns == ["k", "src", "_change_type"]


def test_merge_batch_exactly_once_replay(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.merge_batch(_df(spark, 0, 10, tag="b0"), ["k"], "w", 0) == 1
    assert t.merge_batch(_df(spark, 5, 8, tag="b1"), ["k"], "w", 1) == 2
    # crash replay of batch 1: skipped, table unchanged
    assert t.merge_batch(_df(spark, 5, 8, tag="b1"), ["k"], "w", 1) is None
    assert t.snapshot()[0] == 2
    rows = {r.k: r.src for r in t.read().collect()}
    assert rows[5] == "b1" and rows[4] == "b0" and len(rows) == 10
    # a replayed OLD batch must not resurrect pre-update rows
    assert t.merge_batch(_df(spark, 0, 10, tag="b0"), ["k"], "w", 0) is None
    assert {r.src for r in t.read().filter("k >= 5 and k < 8").collect()} == {
        "b1"
    }


def test_upsert_stream_sink_exactly_once(spark, tmp_path):
    """Drive the foreachBatch upsert sink over a file stream twice: the
    restarted query merges only the delta, in-batch duplicates reduce to
    the order_col winner, and replays cannot double-apply."""
    from indra_db_spark.streaming.ingest import read_stream, upsert_stream_txlog

    src = str(tmp_path / "src")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit("v1").alias("src"), F.lit(1).alias("seq")
    )
    base.write.parquet(src)
    schema = spark.read.parquet(src).schema
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    upsert_stream_txlog(
        read_stream(spark, src, schema), table, ["k"], ckpt, order_col="seq"
    )
    t = TxTable(spark, table)
    assert t.read().count() == 20

    # a later file updates keys 0-4 twice in one batch (seq 2 then 3):
    # the reduction must keep seq=3, the merge must not duplicate keys
    upd = spark.createDataFrame(
        [(k, f"v{s}", s) for k in range(5) for s in (2, 3)],
        schema="k long, src string, seq int",
    )
    upd.write.mode("append").parquet(src)
    upsert_stream_txlog(
        read_stream(spark, src, schema), table, ["k"], ckpt, order_col="seq"
    )
    rows = {r.k: (r.src, r.seq) for r in t.read().collect()}
    assert len(rows) == 20
    assert all(rows[k] == ("v3", 3) for k in range(5))
    assert rows[10] == ("v1", 1)

    # replay shape: same writer identity re-commits batch ids → no-op
    v_before = t.snapshot()[0]
    assert t.merge_batch(upd, ["k"], ckpt, 0) is None
    assert t.snapshot()[0] == v_before


# ------------------------------------------------------ timestamp travel


def test_version_at_resolves_as_of_timestamp(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # v1
    ts1 = t._read_version(1)["ts_ms"]
    t.append(_df(spark, 5, 9))                       # v2
    ts2 = t._read_version(2)["ts_ms"]
    assert t.version_at(ts1) == 1
    assert t.version_at(ts2 + 10_000) == 2           # after everything
    assert t.read(t.version_at(ts1)).count() == 5    # AS OF read
    with pytest.raises(ValueError, match="no version committed"):
        t.version_at(ts1 - 10_000)                   # before history


def test_version_at_tolerates_non_monotone_clocks(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # v1
    t.append(_df(spark, 5, 9))                       # v2
    # simulate clock skew: a LATER version carries an EARLIER stamp
    import json as _json

    body = t._read_version(2)
    body["ts_ms"] = t._read_version(1)["ts_ms"] - 5_000
    p = txlog._jpath(t._jvm, t.root, txlog.LOG_DIR, "v000000000002.json")
    t._fs.delete(p, False)
    out = t._fs.create(p, False)
    out.write(bytearray(_json.dumps(body).encode()))
    out.close()
    # the largest qualifying VERSION wins, not the largest stamp
    assert t.version_at(t._read_version(1)["ts_ms"]) == 2


def test_vacuum_time_retention_keeps_as_of_reads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # v1
    t.append(_df(spark, 5, 9))                       # v2
    t.compact()                                      # v3
    t.append(_df(spark, 9, 12))                      # v4
    ts1 = t._read_version(1)["ts_ms"]
    # version-count retention alone would keep only v3/v4; time retention
    # spanning the whole history must preserve every manifest + its files
    t.vacuum(keep_versions=2, keep_since_ms=ts1, min_age_ms=0)
    assert t.read(1).count() == 5
    assert t.read(t.version_at(ts1)).count() == 5
    # with the horizon past the end, only the version-count floor remains
    t.vacuum(
        keep_versions=2,
        keep_since_ms=t._read_version(4)["ts_ms"] + 1,
        min_age_ms=0,
    )
    assert t.read().count() == 12
    with pytest.raises(Exception):
        t.read(1)


# --------------------------------------------------- schema enforcement


def test_append_rejects_drifted_schema(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    # wrong type on an existing column
    bad_type = spark.range(5).select(
        F.col("id").cast("string").alias("k"), F.lit("w").alias("src")
    )
    with pytest.raises(ValueError, match="schema mismatch on column 'k'"):
        t.append(bad_type)
    # extra column without opting into evolution
    extra = _df(spark, 5, 8).withColumn("note", F.lit("x"))
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.append(extra)
    # the streaming writer is strict too
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append_batch(extra, "w", 0)
    assert t.read().count() == 5  # nothing leaked


def test_append_merge_schema_evolves_and_old_files_read_null(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                                   # v1: (k, src)
    v = t.append(
        _df(spark, 5, 8).withColumn("note", F.lit("x")),
        merge_schema=True,
    )                                                            # v2: + note
    assert v == 2
    out = t.read()
    assert out.columns == ["k", "src", "note"]
    rows = {r.k: r.note for r in out.collect()}
    assert rows[0] is None and rows[6] == "x"  # old files surface nulls
    # the union schema survives unrelated commits (compaction carries it)
    t.compact()
    assert t.read().columns == ["k", "src", "note"]
    # a writer still on the OLD shape keeps working under evolution mode
    t.append(_df(spark, 8, 10), merge_schema=True)
    assert t.read().filter("k >= 8").select("note").collect()[0].note is None
    # time travel reads v1 with its own (pre-evolution) schema
    assert t.read(1).columns == ["k", "src"]


# ---------------------------------------------------- z-order optimize


def test_optimize_zorders_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F2

    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("x", "y")
    # 2-D grid written in a deliberately clustering-hostile order
    grid = (
        spark.range(4096)
        .select(
            (F2.col("id") % 64).alias("x"),
            (F2.col("id") / 64).cast("long").alias("y"),
            F2.col("id").alias("payload"),
        )
        .orderBy(F2.rand(7))
    )
    t.append(grid)
    v = t.optimize("x", "y", n_files=16)
    assert v == 3
    assert t.read().count() == 4096
    # same rows, new layout
    assert t.read().exceptAll(t.read(2)).count() == 0

    # the bought property: a box predicate prunes most files
    result, files_read, files_total = t.skip_read(
        predicates={"x": (0, 7), "y": (0, 7)}
    )
    assert result.count() == 64  # parity with the predicate's true rows
    assert files_total >= 8 and files_read < files_total / 2  # real pruning


def test_optimize_conflicts_like_compaction(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(100).select(
            (F.col("id") % 10).alias("x"),
            (F.col("id") % 7).alias("y"),
        )
    )

    def racer(_table):
        txlog._pre_commit_hook = None
        TxTable(spark, _table.root).compact()

    txlog._pre_commit_hook = racer
    with pytest.raises(CommitConflict):
        t.optimize("x", "y", n_files=4)
    txlog._pre_commit_hook = None
    assert t.read().count() == 100


# ------------------------------------------- code-review regressions (r7)


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL three-valued logic: a NULL-predicate row sharing a file with a
    matching row must survive the rewrite."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(7, 10.0), (8, None), (9, 2.0)], "k long, x double"
        ).coalesce(1)  # all three rows in ONE file
    )
    t.delete_where(F.col("x") > 5)
    rows = {r.k: r.x for r in t.read().collect()}
    assert 7 not in rows            # matched: deleted
    assert rows[8] is None          # NULL predicate: retained
    assert rows[9] == 2.0


def test_merge_and_delete_respect_evolved_schema(spark, tmp_path):
    """Row-level writes on a schema-evolved table must project old files
    through the union schema — not infer from an arbitrary footer."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                              # (k, src)
    t.append(
        _df(spark, 5, 8).withColumn("note", F.lit("x")),
        merge_schema=True,
    )                                                       # + note
    ups = spark.createDataFrame(
        [(1, "new", "noted")], ["k", "src", "note"]
    )
    t.merge(ups, ["k"])  # touches an OLD-schema file
    rows = {r.k: (r.src, r.note) for r in t.read().collect()}
    assert rows[1] == ("new", "noted")
    assert rows[0] == ("w", None) and rows[6] == ("w", "x")
    # delete on the evolved table keeps evolved values intact
    t.delete_where(F.col("k") == 0)
    rows = {r.k: (r.src, r.note) for r in t.read().collect()}
    assert 0 not in rows and rows[6] == ("w", "x")
    # compaction also carries evolved values through the union schema
    t.compact()
    rows = {r.k: (r.src, r.note) for r in t.read().collect()}
    assert rows[6] == ("w", "x") and rows[2] == ("w", None)


def test_merge_rejects_drifted_updates(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    drifted = spark.range(1).select(
        F.col("id").cast("string").alias("k"), F.lit("w").alias("src")
    )
    with pytest.raises(ValueError, match="schema mismatch on column 'k'"):
        t.merge(drifted, ["k"])
    extra = _df(spark, 9, 10).withColumn("note", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(extra, ["k"])  # unmatched key would stage silently


def test_racing_schema_evolutions_union_not_overwrite(spark, tmp_path):
    """Two concurrent evolving appends: the race loser must claim the
    UNION of both new columns, not erase the winner's."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, t.root).append(
            _df(spark, 10, 12).withColumn("x", F.lit(1)),
            merge_schema=True,
        )

    txlog._pre_commit_hook = racer
    t.append(
        _df(spark, 20, 22).withColumn("y", F.lit(2.0)),
        merge_schema=True,
    )
    txlog._pre_commit_hook = None
    cols = set(t.read().columns)
    assert cols == {"k", "src", "x", "y"}  # neither evolution lost
    rows = {r.k: (r.x, r.y) for r in t.read().collect()}
    assert rows[10] == (1, None) and rows[20] == (None, 2.0)
    assert rows[0] == (None, None)


def test_row_changes_across_schema_evolution(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))                              # v1 (k, src)
    t.append(
        _df(spark, 3, 5).withColumn("note", F.lit("x")),
        merge_schema=True,
    )                                                       # v2 + note
    t.merge(
        spark.createDataFrame([(0, "upd", "n0")], ["k", "src", "note"]),
        ["k"],
    )                                                       # v3
    feed = t.row_changes(["k"], since_version=1)
    by = {(r.k, r._change_type): r for r in feed.collect()}
    # the pre-image of the updated old-schema row carries a NULL note
    assert by[(0, "update_preimage")].note is None
    assert by[(0, "update_postimage")].note == "n0"
    assert by[(3, "insert")].note == "x"


def test_history_describes_the_log(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.merge(_df(spark, 1, 3, tag="new"), ["k"])
    t.compact()
    t.append(_df(spark, 5, 7).withColumn("x", F.lit(1)), merge_schema=True)
    h = t.history()
    assert [r["version"] for r in h] == [1, 2, 3, 4]
    assert [r["action"] for r in h] == ["append", "merge", "compact", "append"]
    assert all(r["ts_ms"] > 0 for r in h)
    assert h[0]["n_removed"] == 0 and h[1]["n_removed"] > 0
    assert h[3]["schema_evolved"] and not h[0]["schema_evolved"]


# ---- CHECK constraints (round 8) ------------------------------------------


def test_check_constraint_enforced_on_append(spark, tmp_path):
    """A CHECK constraint is a metadata-only commit; a violating batch is
    refused in one distributed pass BEFORE anything is staged — zero
    garbage, no version consumed — and a conforming batch then passes."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    v = t.add_check_constraint("k_nonneg", "k >= 0")
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    with pytest.raises(txlog.ConstraintViolation, match="k_nonneg"):
        t.append(_df(spark, -3, 2))
    assert t.snapshot()[0] == v
    assert t.vacuum(keep_versions=1, min_age_ms=0) == []  # validated pre-stage: no garbage
    t.append(_df(spark, 5, 8))
    assert t.read().count() == 8
    # exactly-once writers get the same gate
    with pytest.raises(txlog.ConstraintViolation):
        t.append_batch(_df(spark, -9, -5), "writerX", 0)


def test_check_constraint_rejects_violating_table(spark, tmp_path):
    """Adding a constraint the EXISTING rows violate is refused (the
    Delta ADD CONSTRAINT contract), leaving the constraint set empty."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, -5, 5))
    with pytest.raises(txlog.ConstraintViolation, match="existing table"):
        t.add_check_constraint("k_nonneg", "k >= 0")
    assert t.constraints() == {}


def test_check_constraint_null_semantics_and_idempotence(spark, tmp_path):
    """Standard SQL three-valued CHECK: NULL passes ``k >= 0`` (unknown
    is not a violation); rejecting nulls is ``k IS NOT NULL`` spelled
    out.  Re-adding the same (name, expr) is idempotent; a different
    expr under the same name is refused."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    v = t.add_check_constraint("k_nonneg", "k >= 0")
    assert t.add_check_constraint("k_nonneg", "k >= 0") == v  # idempotent
    with pytest.raises(ValueError, match="different"):
        t.add_check_constraint("k_nonneg", "k > 10")
    t.append(
        spark.createDataFrame([(None, "w")], "k bigint, src string")
    )  # NULL passes the CHECK
    with pytest.raises(txlog.ConstraintViolation):
        t.add_check_constraint("k_notnull", "k IS NOT NULL")


def test_check_constraint_survives_compact_merge_drop(spark, tmp_path):
    """Constraints ride every manifest like the schema: a compaction
    carries them forward, merge validates its update rows against them,
    and dropping re-opens the gate."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.add_check_constraint("k_nonneg", "k >= 0")
    t.compact()
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    with pytest.raises(txlog.ConstraintViolation, match="merge"):
        t.merge(_df(spark, -2, 1, tag="up"), ["k"])
    t.merge(_df(spark, 2, 6, tag="up"), ["k"])
    assert {r.src for r in t.read().filter("k >= 2").collect()} == {"up"}
    t.drop_check_constraint("k_nonneg")
    assert t.constraints() == {}
    t.append(_df(spark, -3, 0))
    assert t.read().count() == 9


def test_check_constraint_race_caught_on_rebase(spark, tmp_path):
    """A constraint committed INSIDE a violating append's optimistic
    window (after its pre-stage validation, before its claim) must still
    reject the batch: the rebase re-validates constraints that appeared
    since.  The staged files become invisible vacuum garbage — the same
    clean-abort path as a compaction conflict."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).add_check_constraint(
            "k_small", "k < 100"
        )

    txlog._pre_commit_hook = racer
    with pytest.raises(txlog.ConstraintViolation, match="rebase"):
        t.append(_df(spark, 200, 203))
    txlog._pre_commit_hook = None
    assert t.constraints() == {"k_small": "k < 100"}
    assert {r.k for r in t.read().collect()} == {0, 1, 2}
    assert t.vacuum(keep_versions=1, min_age_ms=0)  # the aborted batch's staged files
    assert {r.k for r in t.read().collect()} == {0, 1, 2}


# ---- deletion vectors (round 8) --------------------------------------------


def test_dv_delete_no_rewrite_and_read_applies(spark, tmp_path):
    """mode="dv" deletes without touching any data file: the manifest
    gains a sidecar mapping, the file list is unchanged, reads apply the
    vector, and time travel to the pre-delete version still sees the
    rows."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    _, files_before = t.snapshot()
    v = t.delete_where(F.col("k") % 3 == 0, mode="dv")
    assert v == 2
    _, files_after = t.snapshot()
    assert files_after == files_before  # no data file rewritten
    assert {r.k for r in t.read().collect()} == {
        k for k in range(10) if k % 3 != 0
    }
    assert {r.k for r in t.read(1).collect()} == set(range(10))
    assert t.history()[-1]["action"] == "dv_delete"
    assert t.history()[-1]["n_dv_files"] >= 1
    # no-match predicate: no commit
    assert t.delete_where(F.col("k") > 999, mode="dv") is None


def test_dv_deletes_compose_and_do_not_rematch(spark, tmp_path):
    """A second DV delete composes with the first (union of vectors) and
    matches against the DV-applied view — already-deleted rows are not
    re-recorded; NULL-predicate rows survive (SQL 3VL)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(0, "w"), (1, "w"), (2, "w"), (None, "w")],
            "k bigint, src string",
        )
    )
    t.delete_where(F.col("k") == 0, mode="dv")
    t.delete_where(F.col("k") <= 1, mode="dv")  # only k=1 newly matches
    got = [(r.k, r.src) for r in t.read().collect()]
    assert sorted(got, key=str) == sorted([(2, "w"), (None, "w")], key=str)


def test_dv_materialized_by_compact_and_merge(spark, tmp_path):
    """Compaction materializes deletion vectors (rewrite carries only
    survivors, manifest dv map empties); a merge rewriting a DV-carrying
    file must NOT resurrect its deleted rows."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.delete_where(F.col("k") >= 8, mode="dv")
    t.compact()
    assert t._snapshot_full()[5] == {}  # materialized
    assert {r.k for r in t.read().collect()} == set(range(8))
    # fresh DV then merge over the same file
    t.delete_where(F.col("k") == 0, mode="dv")
    t.merge(_df(spark, 5, 7, tag="up"), ["k"])
    rows = {(r.k, r.src) for r in t.read().collect()}
    assert (0, "w") not in rows  # merge did not resurrect the DV'd row
    assert {(5, "up"), (6, "up")} <= rows
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4, 5, 6, 7}


def test_dv_conflicts_with_racing_rewrite(spark, tmp_path):
    """Positions are physical: a compaction landing inside the DV
    delete's window invalidates the staged vector — the DV commit must
    abort, and symmetrically a DV landing inside a compaction's window
    aborts the compaction (resurrection check)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    fired = {"done": False}

    def compactor(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).compact()

    txlog._pre_commit_hook = compactor
    with pytest.raises(CommitConflict, match="stale"):
        t.delete_where(F.col("k") == 0, mode="dv")
    txlog._pre_commit_hook = None
    assert t.read().count() == 10
    # symmetric: DV lands during a compaction
    fired2 = {"done": False}

    def dv_racer(_table):
        if fired2["done"]:
            return
        fired2["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).delete_where(
            F.col("k") == 1, mode="dv"
        )

    txlog._pre_commit_hook = dv_racer
    with pytest.raises(CommitConflict, match="resurrect"):
        t.compact()
    txlog._pre_commit_hook = None
    assert {r.k for r in t.read().collect()} == set(range(10)) - {1}


def test_dv_vacuum_keeps_live_sidecars(spark, tmp_path):
    """Vacuum treats DV sidecars referenced by retained versions as
    live; after retention passes the pre-delete version, the rows stay
    deleted and the table reads clean."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.delete_where(F.col("k") < 3, mode="dv")
    t.vacuum(keep_versions=1, min_age_ms=0)
    assert {r.k for r in t.read().collect()} == set(range(3, 10))
    # restore carries the dv map (and its sidecar survives retention)
    t.append(_df(spark, 50, 52))
    t.restore(2)
    assert {r.k for r in t.read().collect()} == set(range(3, 10))


# ---- RESTORE (round 8) -----------------------------------------------------


def test_restore_rolls_back_contents_preserving_history(spark, tmp_path):
    """restore(v) re-claims v's file list as a NEW head commit: contents
    roll back, the rolled-back versions stay time-travelable, and no
    data file moves (metadata-only)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.append(_df(spark, 5, 10))
    v = t.restore(1)
    assert v == 3
    assert {r.k for r in t.read().collect()} == set(range(5))
    assert t.read(2).count() == 10  # history preserved until vacuum
    assert t.history()[-1]["action"] == "restore"
    assert t.restore(3) == 3  # restoring to the head is a no-op


def test_restore_rolls_back_constraints_but_not_txns(spark, tmp_path):
    """Schema/constraints roll back with the contents (a restore past a
    tightening constraint must not wedge the table); the idempotent-
    writer watermark map does NOT (replay protection survives)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append_batch(_df(spark, 0, 5), "w1", 0)         # v1
    t.add_check_constraint("k_small", "k < 100")       # v2
    t.append_batch(_df(spark, 5, 10), "w1", 1)         # v3
    t.restore(1)                                       # v4
    assert t.constraints() == {}
    t.append(_df(spark, 200, 202))  # violates the rolled-back constraint: ok
    # replay protection survived the restore: batch 1 is still recorded
    assert t.append_batch(_df(spark, 5, 10), "w1", 1) is None
    assert t.append_batch(_df(spark, 10, 12), "w1", 2) is not None


def test_restore_refuses_vacuumed_target_and_concurrent_head(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.compact()
    t.vacuum(keep_versions=1, min_age_ms=0)
    with pytest.raises(Exception):  # pruned manifest OR vacuumed files
        t.restore(1)
    # concurrent commit inside the restore window: abort, never drop it
    t.append(_df(spark, 5, 8))
    fired = {"done": False}

    def racer(_table):
        if fired["done"]:
            return
        fired["done"] = True
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).append(_df(spark, 50, 53))

    txlog._pre_commit_hook = racer
    with pytest.raises(CommitConflict, match="restore"):
        t.restore(2)
    txlog._pre_commit_hook = None
    assert {r.k for r in t.read().collect()} >= {50, 51, 52}


# ---- LogStore claim-primitive contract (r7 verdict #3) -------------------
#
# The same race matrix drives BOTH stores: LocalFsLogStore (the default for
# local roots — write-temp + atomic link) and HadoopLogStore injected over
# the local FileSystem (its create-based claim is only namenode-atomic on
# HDFS, but the PROTOCOL behavior — one winner, losers rebase, crash at the
# claim point leaves the table clean — must hold identically).


class _DirObjectClient:
    """Object-store emulator for the conditional-put contract: one lock
    plays the service's arbitration (exactly one ``If-None-Match: *``
    PUT per key succeeds), publication is an atomic rename so readers —
    the table's Hadoop filesystem over the same directory — can never
    observe a partial object.  The emulator is keyed bucket-relative,
    exactly how a real client would be."""

    def __init__(self, root: str):
        self._root = root
        self._lock = threading.Lock()

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        import uuid

        path = os.path.join(self._root, key)
        with self._lock:
            if os.path.exists(path):
                return False
            tmp = path + f".put-{uuid.uuid4().hex}"
            with open(tmp, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
            return True


def _mk_table(spark, tmp_path, store: str) -> TxTable:
    root = str(tmp_path / f"t_{store}")
    if store == "local":
        return TxTable(spark, root)
    probe = TxTable(spark, root)  # creates dirs + fs handle
    if store == "object":
        return TxTable(
            spark,
            root,
            log_store=txlog.ObjectStoreLogStore(_DirObjectClient(root)),
        )
    return TxTable(
        spark,
        root,
        log_store=txlog.HadoopLogStore(probe._fs, probe._jvm, probe.root),
    )


def test_logstore_exactly_one_winner_local(spark, tmp_path):
    """N concurrent claims of the SAME version through the local store:
    exactly one try_create returns True (the kernel's link(2) EEXIST
    arbitration) and the committed manifest is the winner's complete,
    parseable payload (no torn write).  Local-only on purpose: the
    HADOOP store's single-winner guarantee is namenode arbitration,
    which RawLocalFileSystem cannot emulate (its rename overwrites) —
    its documented limitation, covered sequentially below."""
    import json

    t = _mk_table(spark, tmp_path, "local")
    t.append(_df(spark, 0, 3))
    results = []
    lock = threading.Lock()

    def claim(i):
        ok = t._log_store.try_create(
            "v000000000002.json",
            json.dumps({"version": 2, "files": [], "winner": i}).encode(),
        )
        with lock:
            results.append((i, ok))

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    winners = [i for i, ok in results if ok]
    assert len(winners) == 1, results
    body = t._read_version(2)
    assert body["winner"] == winners[0]  # complete payload, the winner's


def test_logstore_exactly_one_winner_object(spark, tmp_path):
    """N concurrent conditional-put claims of the SAME version through
    ONE object-store client: the service-side arbitration (the
    emulator's lock standing in for S3's ``If-None-Match: *``) admits
    exactly one PUT, the committed manifest is the winner's complete
    payload, and — the object-store-specific property — NO residue
    exists on any path: no temp objects, no cleanup step, the log
    directory holds exactly the version manifests."""
    import json

    t = _mk_table(spark, tmp_path, "object")
    t.append(_df(spark, 0, 3))
    results = []
    lock = threading.Lock()

    def claim(i):
        ok = t._log_store.try_create(
            "v000000000002.json",
            json.dumps({"version": 2, "files": [], "winner": i}).encode(),
        )
        with lock:
            results.append((i, ok))

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    winners = [i for i, ok in results if ok]
    assert len(winners) == 1, results
    assert t._read_version(2)["winner"] == winners[0]
    log_dir = os.path.join(str(tmp_path / "t_object"), txlog.LOG_DIR)
    assert sorted(os.listdir(log_dir)) == [
        "v000000000001.json", "v000000000002.json"
    ]


@pytest.mark.parametrize("store", ["local", "hadoop", "object"])
def test_logstore_lost_claim_and_no_temp_residue(spark, tmp_path, store):
    """Sequential protocol contract both stores share: claiming an
    already-claimed version returns False, never corrupts the winner's
    payload, and leaves no visible residue (temp claim files are invisible
    to the version listing and removed on the losing path)."""
    import json

    t = _mk_table(spark, tmp_path, store)
    t.append(_df(spark, 0, 3))
    name = "v000000000002.json"
    assert t._log_store.try_create(
        name, json.dumps({"version": 2, "files": [], "w": "first"}).encode()
    )
    assert not t._log_store.try_create(
        name, json.dumps({"version": 2, "files": [], "w": "second"}).encode()
    )
    assert t._read_version(2)["w"] == "first"  # loser never tore the payload
    assert t._versions() == [1, 2]  # no temp residue in the listing


@pytest.mark.parametrize("store", ["local", "hadoop", "object"])
def test_logstore_race_at_claim_point_rebases(spark, tmp_path, store):
    """A racing commit lands INSIDE try_create, after the payload is
    prepared and immediately before the atomic claim — the tightest
    window.  The loser must detect the lost claim and rebase: both
    appends' rows end up in the table, in consecutive versions."""
    t = _mk_table(spark, tmp_path, store)
    t.append(_df(spark, 0, 3))
    fired = []

    def racer():
        if fired:
            return  # only the FIRST claim attempt gets raced
        fired.append(1)
        txlog._pre_claim_hook = None  # the racing commit must not recurse
        _mk_table(spark, tmp_path, store).append(_df(spark, 100, 103, tag="racer"))
        txlog._pre_claim_hook = racer

    txlog._pre_claim_hook = racer
    v = t.append(_df(spark, 10, 13, tag="mine"))
    txlog._pre_claim_hook = None
    assert v == 3  # lost v2 to the racer, rebased, claimed v3
    rows = {(r.k, r.src) for r in t.read().collect()}
    assert {(100, "racer"), (10, "mine"), (0, "w")} <= rows
    assert t.snapshot()[0] == 3


@pytest.mark.parametrize("store", ["local", "hadoop", "object"])
def test_logstore_crash_at_claim_leaves_table_clean(spark, tmp_path, store):
    """An injected crash EXACTLY at the claim point: the version is never
    published, readers still see the old snapshot, no partial manifest
    exists (every listed version parses), and a later retry commits."""

    class Boom(RuntimeError):
        pass

    t = _mk_table(spark, tmp_path, store)
    t.append(_df(spark, 0, 3))

    def crash():
        raise Boom("crash at the claim point")

    txlog._pre_claim_hook = crash
    with pytest.raises(Boom):
        t.append(_df(spark, 10, 13, tag="crashed"))
    txlog._pre_claim_hook = None
    # claim never published: snapshot unchanged, every manifest parses
    assert t.snapshot()[0] == 1
    for v in t._versions():
        assert t._read_version(v)["version"] == v
    assert {r.k for r in t.read().collect()} == {0, 1, 2}
    # the crashed writer's staged files are invisible garbage → vacuum
    t.vacuum(keep_versions=1, min_age_ms=0)
    assert {r.k for r in t.read().collect()} == {0, 1, 2}
    # recovery: the same writer object retries fine
    assert t.append(_df(spark, 10, 13, tag="retry")) == 2
    assert {r.k for r in t.read().collect()} == {0, 1, 2, 10, 11, 12}


def test_logstore_default_selection(spark, tmp_path):
    """Local roots (plain and file:-prefixed) must claim through the
    atomic-link store; only non-local schemes use create-based claims."""
    plain = TxTable(spark, str(tmp_path / "p"))
    assert isinstance(plain._log_store, txlog.LocalFsLogStore)
    prefixed = TxTable(spark, f"file://{tmp_path}/q")
    assert isinstance(prefixed._log_store, txlog.LocalFsLogStore)
    assert prefixed._log_store.log_dir.startswith("/")
    # and the prefixed table actually round-trips through that store
    prefixed.append(_df(spark, 0, 2))
    assert prefixed.snapshot()[0] == 1


def test_local_store_no_partial_manifest_window(spark, tmp_path):
    """The local claim publishes content all-or-nothing: at the instant
    the version becomes listable its payload is already complete (the
    temp file is fully written and fsynced BEFORE the link).  Simulate
    the old claim-then-write hazard by checking that DURING a claim —
    right at the hook, pre-link — the final name does not exist yet."""
    import os as _os

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2))
    seen = {}

    def probe():
        final = _os.path.join(t._log_store.log_dir, "v000000000002.json")
        seen["exists_at_claim_point"] = _os.path.exists(final)

    txlog._pre_claim_hook = probe
    t.append(_df(spark, 2, 4))
    txlog._pre_claim_hook = None
    assert seen == {"exists_at_claim_point": False}
    assert t._read_version(2)["version"] == 2


def test_catalog_dv_read_entry_commit_sequence(spark, sf_dir, monkeypatch):
    """The driver-gate entry ``txlog_dv_read`` must keep exercising the
    merge-on-read serving path: two appends, two DV (not copy) deletes,
    and a RESTORE — a refactor that silently downgraded the deletes to
    copy-on-write rewrites would still hash-match the oracle, so the
    action sequence is pinned here."""
    from indra_db_spark.catalog.transactional import txlog_dv_read
    from indra_db_spark.plans.txlog import TxTable

    captured: list[TxTable] = []
    orig_init = TxTable.__init__

    def spy_init(self, *a, **kw):
        orig_init(self, *a, **kw)
        captured.append(self)

    monkeypatch.setattr(TxTable, "__init__", spy_init)
    out = txlog_dv_read(spark, sf_dir)
    assert out.count() > 0
    (tx,) = captured
    actions = [h["action"] for h in tx.history()]
    # the trailing compact is the targeted materialize_dv (round 10) —
    # a layout action the oracle must not see
    assert actions == [
        "append", "append", "dv_delete", "dv_delete", "restore", "compact",
    ]
    # the restore re-claims the first delete's exact file list + DV map
    v2, v5 = tx._read_version(3), tx._read_version(5)
    assert v5["files"] == v2["files"] and v5.get("dv") == v2.get("dv")


# ---- real-SDK object-store adapter (boto3 over moto's S3) ----------------


@pytest.fixture()
def s3_bucket(monkeypatch):
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    from moto.s3.responses import S3Response

    # moto checks If-None-Match with one backend call and stores the
    # object with another, with no lock between them, so two racing
    # conditional PUTs can both win.  S3 arbitrates a conditional PUT
    # atomically; serialize the emulator's handler to match.
    put, lock = S3Response.put_object, threading.Lock()

    def atomic_put(self):
        with lock:
            return put(self)

    monkeypatch.setattr(S3Response, "put_object", atomic_put)
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="tx-test-bucket")
        yield client, "tx-test-bucket"


def test_s3_put_if_absent_single_winner_and_no_residue(s3_bucket):
    """The boto3 adapter under the same contract the emulated client
    answers: N racing conditional PUTs of one version key through ONE
    client — exactly one True (S3's If-None-Match arbitration, enforced
    server-side by moto), the surviving object is the winner's complete
    payload, and the bucket holds exactly the claimed keys (no temp
    residue on any path — the object-store-specific property)."""
    import json as _json

    client, bucket = s3_bucket
    adapter = txlog.S3ConditionalPutClient(bucket, client=client)
    results = []
    lock = threading.Lock()

    def claim(i):
        ok = adapter.put_if_absent(
            "tbl/_txlog/v000000000002.json",
            _json.dumps({"version": 2, "winner": i}).encode(),
        )
        with lock:
            results.append((i, ok))

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    winners = [i for i, ok in results if ok]
    assert len(winners) == 1, results
    body = client.get_object(
        Bucket=bucket, Key="tbl/_txlog/v000000000002.json"
    )["Body"].read()
    assert _json.loads(body)["winner"] == winners[0]
    keys = [
        o["Key"]
        for o in client.list_objects_v2(Bucket=bucket).get("Contents", [])
    ]
    assert keys == ["tbl/_txlog/v000000000002.json"]


def test_s3_adapter_through_object_store_log_store(s3_bucket):
    """ObjectStoreLogStore wired to the real-SDK adapter: a lost claim
    returns False and never tears the winner's payload — the protocol
    face TxTable actually calls."""
    client, bucket = s3_bucket
    store = txlog.ObjectStoreLogStore(
        txlog.S3ConditionalPutClient(bucket, client=client),
        key_prefix="lake/tbl/_txlog/",
    )
    assert store.try_create("v000000000001.json", b'{"w": "first"}')
    assert not store.try_create("v000000000001.json", b'{"w": "second"}')
    got = client.get_object(
        Bucket=bucket, Key="lake/tbl/_txlog/v000000000001.json"
    )["Body"].read()
    assert got == b'{"w": "first"}'


def test_s3_adapter_409_conflict_retries_then_resolves():
    """AWS can answer a racing conditional PUT with 409
    ConditionalRequestConflict (outcome undecided) before the winner's
    412 becomes observable; the adapter must re-attempt through 409s and
    convert the eventual 412 to False — and give up loudly on a
    persistent conflict storm."""
    from botocore.exceptions import ClientError

    class Flaky:
        def __init__(self, answers):
            self.answers = list(answers)

        def put_object(self, **kw):
            a = self.answers.pop(0)
            if a == "ok":
                return {}
            raise ClientError(
                {
                    "Error": {"Code": a},
                    "ResponseMetadata": {
                        "HTTPStatusCode": 409
                        if a == "ConditionalRequestConflict"
                        else 412
                    },
                },
                "PutObject",
            )

    conflict = "ConditionalRequestConflict"
    win = txlog.S3ConditionalPutClient("b", client=Flaky([conflict, "ok"]))
    assert win.put_if_absent("k", b"x") is True
    lose = txlog.S3ConditionalPutClient(
        "b", client=Flaky([conflict, conflict, "PreconditionFailed"])
    )
    assert lose.put_if_absent("k", b"x") is False
    storm = txlog.S3ConditionalPutClient(
        "b", client=Flaky([conflict] * 3)
    )
    with pytest.raises(RuntimeError, match="conflicted"):
        storm.put_if_absent("k", b"x", max_retries=3)


# ---- segmented manifests: O(delta) commits on large tables ----------------
# Past INLINE_MANIFEST_FILES live files, a manifest references immutable
# seg-*.json chunks (Iceberg's manifest-reuse idea) instead of inlining the
# full list — an append writes one small segment + the reference list, not
# O(table) bytes.  The thresholds are forced low here so the whole protocol
# (reuse, remove-rewrite, repack, vacuum, races) runs on tiny tables.


@pytest.fixture()
def _segmented(monkeypatch):
    monkeypatch.setattr(txlog, "INLINE_MANIFEST_FILES", 0)
    monkeypatch.setattr(txlog, "SEGMENT_TARGET_FILES", 4)
    monkeypatch.setattr(txlog, "SEGMENT_MERGE_FANIN", 3)


def _raw(t, v):
    """Manifest body as WRITTEN (no segment resolution)."""
    return t._read_log_json(f"v{v:012d}.json")


def _disk_segs(t):
    return {
        f.getPath().getName()
        for f in t._fs.listStatus(
            txlog._jpath(t._jvm, t.root, txlog.LOG_DIR)
        )
        if f.getPath().getName().startswith("seg-")
    }


def test_segmented_roundtrip_snapshot_isolation(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100).repartition(10))
    raw = _raw(t, 1)
    assert "files" not in raw and len(raw["segments"]) >= 3
    assert raw["n_files"] == 10
    v1, files = t.snapshot()
    assert v1 == 1 and len(files) == 10
    assert {r.k for r in t.read().collect()} == set(range(100))
    t.append(_df(spark, 100, 120).repartition(2))
    # pinned snapshot still resolves through v1's segments
    assert t.read(v1).count() == 100
    assert t.read().count() == 120


def test_segment_reuse_makes_append_o_delta(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 80).repartition(8))      # v1: 2 full segments
    t.append(_df(spark, 80, 90).repartition(1))     # v2: +1 file
    raw1, raw2 = _raw(t, 1), _raw(t, 2)
    # every v1 segment is REFERENCED, not rewritten
    assert set(raw1["segments"]) < set(raw2["segments"])
    new = set(raw2["segments"]) - set(raw1["segments"])
    assert len(new) == 1
    # the commit's bytes are the delta: no v1 file name reappears in the
    # raw v2 manifest or in the one new segment
    v1_files = set(t._read_version(1)["files"])
    raw2_text = __import__("json").dumps(raw2)
    assert not any(n in raw2_text for n in v1_files)
    seg_new = t._read_segment(next(iter(new)))
    assert not (set(seg_new) & v1_files) and len(seg_new) == 1
    assert t.read().count() == 90


def test_segment_rewrite_only_on_intersecting_remove(
    spark, tmp_path, _segmented
):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 4).repartition(4))        # v1: segment A
    t.append(_df(spark, 1000, 1004).repartition(4))  # v2: + segment B
    raw2 = _raw(t, 2)
    t.delete_where(F.col("k") >= 1000)               # v3: hits only B's files
    raw3 = _raw(t, 3)
    survivors = set(raw2["segments"]) & set(raw3["segments"])
    # at least the all-survivor segment(s) carry over untouched, and the
    # low-key rows are intact while the high keys are gone
    assert survivors
    assert {r.k for r in t.read().collect()} == {0, 1, 2, 3}


def test_segment_repack_bounds_segment_count(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(12):
        t.append(_df(spark, i * 10, i * 10 + 10).repartition(1))
        raw = _raw(t, i + 1)
        n_small_allowed = txlog.SEGMENT_MERGE_FANIN + 1
        full = (i + 1) // txlog.SEGMENT_TARGET_FILES + 1
        assert len(raw["segments"]) <= full + n_small_allowed
    assert t.read().count() == 120
    assert {r.k for r in t.read().collect()} == {
        k for i in range(12) for k in range(i * 10, i * 10 + 10)
    }


def test_vacuum_reclaims_unreferenced_segments(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 40).repartition(4))
    t.append(_df(spark, 40, 80).repartition(4))
    t.compact()                                      # v3 repacks everything
    orphan = t._write_segment(["never-referenced.parquet"])
    before = _disk_segs(t)
    assert orphan in before
    t.vacuum(keep_versions=1, min_age_ms=0)
    after = _disk_segs(t)
    assert orphan not in after
    assert after == set(_raw(t, 3)["segments"])      # exactly the live set
    assert t.read().count() == 80                    # retained version reads


def test_segmented_concurrent_appends_rebase(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 40).repartition(4))
    errs = []

    def worker(i):
        try:
            TxTable(spark, str(tmp_path / "t")).append(
                _df(spark, 100 + i * 10, 110 + i * 10, tag=f"w{i}")
                .repartition(1)
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    v, files = t.snapshot()
    assert v == 5 and len(files) == 8
    assert t.read().count() == 80
    # the losing attempts' segments are garbage until vacuum, never resolved
    live = set()
    for ver in range(1, 6):
        live |= set(_raw(t, ver).get("segments", ()))
    assert live <= _disk_segs(t)


def test_segmented_restore_changes_history(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 30).repartition(3))       # v1
    t.append(_df(spark, 30, 60).repartition(3))      # v2
    feed = t.changes(since_version=1)
    assert feed.count() == 30 and {r.k for r in feed.collect()} == set(
        range(30, 60)
    )
    t.restore(1)                                     # v3 == v1's content
    assert {r.k for r in t.read().collect()} == set(range(30))
    assert t._read_version(3)["files"] == t._read_version(1)["files"]


def test_segmented_dv_delete_reads(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50).repartition(5))
    t.delete_where(F.col("k") % 10 == 0, mode="dv")
    assert {r.k for r in t.read().collect()} == {
        k for k in range(50) if k % 10 != 0
    }
    # DV map and segments coexist on the same manifest
    raw = _raw(t, 2)
    assert raw.get("dv") and "segments" in raw and "files" not in raw


def test_commit_bytes_o_delta_at_10k_files(spark, tmp_path):
    """Default thresholds, 10k synthetic names through the claim path
    itself (pure metadata, no Spark jobs): appending ONE file to a
    10k-file table writes the reference list + one tiny segment — orders
    of magnitude below restating the table's file list."""
    t = TxTable(spark, str(tmp_path / "t"))
    names = [f"{i:05d}.parquet" for i in range(10_000)]

    def log_bytes():
        return {
            f.getPath().getName(): f.getLen()
            for f in t._fs.listStatus(
                txlog._jpath(t._jvm, t.root, txlog.LOG_DIR)
            )
        }

    t._snapshot_full()
    assert t._try_claim(1, names, "append")
    before = log_bytes()
    t._snapshot_full()
    assert t._try_claim(2, names + ["new-file.parquet"], "append")
    new_bytes = sum(
        sz for n, sz in log_bytes().items() if n not in before
    )
    inline_floor = sum(len(n) for n in names)  # O(table) would restate these
    assert new_bytes < inline_floor / 20
    body = t._read_version(2)
    assert body["n_files"] == 10_001 and len(body["files"]) == 10_001


def test_manifest_bytes_bounded_as_segments_grow(spark, tmp_path):
    """seg_meta rides EVERY manifest by design — O(segments) bytes per
    commit, like the reference list itself.  Pin the budget so a future
    regression (per-file stats leaking into seg_meta, or an unbounded
    segment bloom) fails loudly: with 10k synthetic files carrying full
    range + bloom stats, the manifest stays a small fraction of the
    per-file stat bytes (those live in the SEGMENTS), each segment's
    aggregate respects the word budget, and appending one file grows the
    manifest by ~one segment's aggregate, not the table's (r11 verdict
    next-round #7)."""
    import json as _json

    t = TxTable(spark, str(tmp_path / "t"))
    names = [f"{i:05d}.parquet" for i in range(10_000)]
    synth = {
        n: {
            "n": 1,
            "c": {"k": [i, i]},
            "b": {"k": [8192, 3, {str(i % 128): 1 << (i % 64)},
                        "xxh64"]},
        }
        for i, n in enumerate(names)
    }

    def log_bytes():
        return {
            f.getPath().getName(): f.getLen()
            for f in t._fs.listStatus(
                txlog._jpath(t._jvm, t.root, txlog.LOG_DIR)
            )
        }

    t._snapshot_full()
    t._pending_stats = dict(synth)
    assert t._try_claim(1, names, "append", bloom_spec={
        "cols": ["k"], "m": 8192, "k": 3, "seg_m": 0,
    })
    sizes1 = log_bytes()
    v1 = sizes1["v000000000001.json"]
    seg_bytes = sum(
        sz for n, sz in sizes1.items() if n.startswith("seg-")
    )
    raw = _raw(t, 1)
    n_segs = len(raw["segments"])
    assert n_segs >= 10
    # the per-file stats (ranges + bloom words) live in the segments;
    # the manifest carries only the per-segment AGGREGATES
    assert v1 < seg_bytes / 5
    # every carried aggregate respects the word budget (the leak check)
    for m in raw["seg_meta"].values():
        for mm, kk, words, _scheme in m.get("b", {}).values():
            assert len(words) <= txlog.SEG_BLOOM_MAX_WORDS
        assert len(_json.dumps(m)) < txlog.SEG_BLOOM_MAX_WORDS * 30 + 4096
    # appending one file adds ~one segment's aggregate to the manifest,
    # never O(files) bytes
    t._snapshot_full()
    t._pending_stats = {
        "zzz-new.parquet": {
            "n": 1,
            "c": {"k": [10_000, 10_000]},
            "b": {"k": [8192, 3, {"1": 2}, "xxh64"]},
        }
    }
    assert t._try_claim(2, names + ["zzz-new.parquet"], "append")
    v2 = log_bytes()["v000000000002.json"]
    assert v2 - v1 < 2048
    # and the segment blooms actually serve: the point lookup admits one
    # segment's worth of candidates driver-side with zero file opens
    body = t._read_version_raw(2)
    hit = [
        s for s, m in body["seg_meta"].items()
        if all(
            m["b"]["k"][2].get(str(w), 0) & bit
            for w, bit in __import__(
                "indra_db_spark.plans.skipindex", fromlist=["bloom_positions"]
            ).bloom_positions(42, 8192, 3)
        )
    ]
    assert len(hit) < n_segs


def test_materialize_dv_targets_hot_files_only(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).repartition(1))       # file A
    t.append(_df(spark, 100, 110).repartition(1))    # file B, never deleted
    for k in (0, 1, 2):                              # 3 sidecars, all on A
        t.delete_where(F.col("k") == k, mode="dv")
    before = {r.k for r in t.read().collect()}
    assert t.materialize_dv(min_sidecars=5) is None  # below threshold
    _, files_pre, _, _, _, dv_pre = t._snapshot_full()
    (hot,) = [f for f in files_pre if len(dv_pre.get(f, ())) >= 3]
    v = t.materialize_dv(min_sidecars=3)
    assert v is not None
    _, files, _, _, _, dv = t._snapshot_full()
    assert not dv                                    # A's DVs folded in
    assert hot not in files                          # A rewritten...
    assert set(files_pre) - {hot} <= set(files)      # ...B untouched
    assert {r.k for r in t.read().collect()} == before
    # layout-only commit: the change feed stays silent
    assert t.changes(since_version=v - 1, to_version=v).count() == 0


def test_materialize_dv_fully_deleted_file(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5).repartition(1))
    t.append(_df(spark, 100, 105).repartition(1))
    t.delete_where(F.col("k") < 5, mode="dv")        # masks ALL of file 1
    v = t.materialize_dv(min_sidecars=1)
    assert v is not None
    assert {r.k for r in t.read().collect()} == set(range(100, 105))
    assert not t._snapshot_full()[5]


def test_stream_sink_over_segmented_manifests(spark, tmp_path, _segmented):
    """The exactly-once streaming sink composes with manifest
    segmentation untouched: append_batch goes through the same claim
    path, so batch watermarks (txns), segment reuse, and idempotent
    replay all ride the segmented manifests."""
    from indra_db_spark.streaming.ingest import read_stream, write_stream_txlog

    src = str(tmp_path / "src")
    _df(spark, 0, 60).repartition(6).write.parquet(src)
    schema = spark.read.parquet(src).schema
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    write_stream_txlog(read_stream(spark, src, schema), table, ckpt)
    t = TxTable(spark, table)
    assert t.read().count() == 60
    assert "segments" in _raw(t, t.snapshot()[0])
    # idempotent replay over a segmented manifest: version unchanged
    v = t.snapshot()[0]
    assert t.append_batch(_df(spark, 0, 60), ckpt, 0) is None
    assert t.snapshot()[0] == v and t.read().count() == 60


def test_stream_sink_maintain_cadence_bounds_files_and_segments(
    spark, tmp_path, _segmented
):
    """maintain() wired into the streaming sinks (r11 verdict next-round
    #4): a long-running per-trigger stream otherwise mints one tiny file
    + one tiny segment per commit forever.  With maintain_every=N the
    sink compacts inside the foreachBatch boundary every Nth COMMITTED
    batch, so live file and segment counts stay BOUNDED while versions
    grow — and a full replay from a fresh checkpoint under the same
    writer id still commits nothing (the cadence is gated on committed
    batches, so skipped replays trigger no maintenance either)."""
    from indra_db_spark.streaming.ingest import read_stream, write_stream_txlog

    src = str(tmp_path / "src")
    for i in range(24):
        _df(spark, i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    mk = dict(max_file_mb=16, target_file_mb=64, small_min_files=2)
    write_stream_txlog(
        read_stream(spark, src, schema, max_files_per_trigger=1),
        table,
        ckpt,
        maintain_every=6,
        maintain_kwargs=mk,
    )
    t = TxTable(spark, table)
    v, files = t.snapshot()
    assert {r.k for r in t.read().collect()} == set(range(240))
    assert v > 24                     # appends PLUS maintenance commits
    assert len(files) <= 3            # ...while live files stay bounded
    raw = _raw(t, v)
    assert "segments" in raw and len(raw["segments"]) <= 2
    # FULL REPLAY, fresh checkpoint, same writer id: every batch skips on
    # the manifest watermark and no maintenance fires — zero commits
    write_stream_txlog(
        read_stream(spark, src, schema, max_files_per_trigger=1),
        table,
        str(tmp_path / "ckpt2"),
        app_id=ckpt,
        maintain_every=6,
        maintain_kwargs=mk,
    )
    assert t.snapshot()[0] == v
    assert t.read().count() == 240


def test_materialize_dv_aborts_on_racing_dv(spark, tmp_path):
    """A DV landing on a hot file AFTER materialize_dv read it must
    abort the swap — committing would resurrect the racing delete."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).repartition(1))
    t.delete_where(F.col("k") == 0, mode="dv")

    def race(_tx):
        txlog._pre_commit_hook = None   # fire once, and not in the racer
        TxTable(spark, str(tmp_path / "t")).delete_where(
            F.col("k") == 1, mode="dv"
        )

    txlog._pre_commit_hook = race
    with pytest.raises(CommitConflict, match="deletion vector"):
        t.materialize_dv(min_sidecars=1)
    txlog._pre_commit_hook = None
    # nothing was lost: both deletes visible, staged rewrite is garbage
    assert {r.k for r in t.read().collect()} == set(range(2, 10))
    # and a rerun AFTER the race succeeds and folds both DVs in
    assert t.materialize_dv(min_sidecars=1) is not None
    assert not t._snapshot_full()[5]
    assert {r.k for r in t.read().collect()} == set(range(2, 10))


def test_s3_put_412_self_win_disambiguation(spark_noop=None):
    """A 412 after a transport-level retry of OUR OWN successful PUT must
    report a WIN (the adapter reads the key back and compares bytes);
    a genuine loss (someone else's bytes) stays False."""
    from botocore.exceptions import ClientError

    class LostAck:
        """put_object succeeded server-side but the 200 was lost: every
        visible call raises 412; the object holds `stored`."""

        def __init__(self, stored):
            self.stored = stored

        def put_object(self, **kw):
            raise ClientError(
                {
                    "Error": {"Code": "PreconditionFailed"},
                    "ResponseMetadata": {"HTTPStatusCode": 412},
                },
                "PutObject",
            )

        def get_object(self, **kw):
            import io

            return {"Body": io.BytesIO(self.stored)}

    mine = b'{"version": 1, "mine": true}'
    win = txlog.S3ConditionalPutClient("b", client=LostAck(mine))
    assert win.put_if_absent("k", mine) is True
    lose = txlog.S3ConditionalPutClient(
        "b", client=LostAck(b'{"version": 1, "theirs": true}')
    )
    assert lose.put_if_absent("k", mine) is False

    class Unreadable(LostAck):
        def get_object(self, **kw):
            raise RuntimeError("AccessDenied")

    # unreadable read-back degrades to the safe answer: a loss
    assert (
        txlog.S3ConditionalPutClient(
            "b", client=Unreadable(mine)
        ).put_if_absent("k", mine)
        is False
    )


# ---- manifest-carried skipping stats + skip_read --------------------------


def test_manifest_stats_skip_read(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 100).repartitionByRange(4, "k"))
    t.append(_df(spark, 100, 200).repartitionByRange(4, "k"))
    df, nread, ntotal = t.skip_read(predicates={"k": (150, 160)})
    assert ntotal == 8 and 0 < nread < ntotal
    assert {r.k for r in df.collect()} == set(range(150, 161))
    df2, n2, _ = t.skip_read(eq={"k": 7})
    assert n2 < ntotal and [r.k for r in df2.collect()] == [7]
    # a box beyond every file's range: zero matches, schema intact
    df3, n3, _ = t.skip_read(predicates={"k": (10_000, None)})
    assert n3 == 1 and df3.count() == 0 and "k" in df3.columns


def test_stats_ride_segments_dvs_and_rewrites(spark, tmp_path, _segmented):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 40).repartitionByRange(4, "k"))
    t.append(_df(spark, 40, 80).repartitionByRange(4, "k"))
    raw = _raw(t, t.snapshot()[0])
    assert "segments" in raw and "stats" not in raw  # stats live IN segments
    seg_stats = {}
    for s in raw["segments"]:
        seg_stats.update(t._read_segment_full(s)[1])
    assert len(seg_stats) == 8 and all("c" in v for v in seg_stats.values())
    df, nread, ntotal = t.skip_read(predicates={"k": (0, 5)})
    assert nread < ntotal == 8
    assert {r.k for r in df.collect()} == set(range(6))
    # skip_read applies deletion vectors on the surviving files
    t.delete_where(F.col("k") == 3, mode="dv")
    df, _, _ = t.skip_read(predicates={"k": (0, 5)})
    assert {r.k for r in df.collect()} == {0, 1, 2, 4, 5}
    # a rewrite collects fresh stats for its output files
    t.compact()
    df, _, ntotal2 = t.skip_read(predicates={"k": (0, 5)})
    assert {r.k for r in df.collect()} == {0, 1, 2, 4, 5}
    head_stats = t._stats_of(t._read_version(t.snapshot()[0]))
    assert len(head_stats) == ntotal2  # every live file has an entry


def test_pre_stats_files_never_pruned(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50).repartitionByRange(2, "k"))   # no stats yet
    t.set_stats_columns("k")
    t.append(_df(spark, 50, 100).repartitionByRange(2, "k"))
    df, nread, ntotal = t.skip_read(predicates={"k": (60, 70)})
    # both pre-stats files are unprunable and stay in the read set
    assert ntotal == 4 and nread == 3
    assert {r.k for r in df.collect()} == set(range(60, 71))


def test_stats_survive_concurrent_rebase(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 50).repartitionByRange(2, "k"))

    def race(_tx):
        txlog._pre_commit_hook = None
        TxTable(spark, str(tmp_path / "t")).append(
            _df(spark, 1000, 1050).repartitionByRange(2, "k")
        )

    txlog._pre_commit_hook = race
    t.append(_df(spark, 100, 150).repartitionByRange(2, "k"))
    txlog._pre_commit_hook = None
    head = t._read_version(t.snapshot()[0])
    assert len(t._stats_of(head)) == 6  # all three appends' files
    df, nread, ntotal = t.skip_read(predicates={"k": (1000, 1010)})
    assert ntotal == 6 and nread == 1
    assert {r.k for r in df.collect()} == set(range(1000, 1011))


def test_optimize_then_skip_read_prunes_tight(spark, tmp_path):
    """OPTIMIZE's z-order rewrite goes through _stage, so its output
    files get fresh stats and a box skip_read prunes the clustered
    layout without any separate index build."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    import random

    rnd = random.Random(7)
    rows = [(k, f"s{k % 9}") for k in rnd.sample(range(10_000), 2_000)]
    t.append(
        spark.createDataFrame(rows, "k long, src string").repartition(8)
    )
    t.optimize("k", "k", n_files=8)
    df, nread, ntotal = t.skip_read(predicates={"k": (100, 400)})
    assert ntotal == 8 and nread <= 2
    assert {r.k for r in df.collect()} == {
        k for k, _ in rows if 100 <= k <= 400
    }


def test_stream_sink_collects_manifest_stats(spark, tmp_path):
    """A streaming writer inherits the log-carried stats config: its
    batches' files get entries with no code on the writer's side."""
    from indra_db_spark.streaming.ingest import read_stream, write_stream_txlog

    table = str(tmp_path / "table")
    TxTable(spark, table).set_stats_columns("k")
    src = str(tmp_path / "src")
    _df(spark, 0, 100).repartitionByRange(4, "k").write.parquet(src)
    schema = spark.read.parquet(src).schema
    write_stream_txlog(
        read_stream(spark, src, schema), table, str(tmp_path / "ckpt")
    )
    t = TxTable(spark, table)
    df, nread, ntotal = t.skip_read(predicates={"k": (0, 10)})
    assert ntotal >= 2 and nread < ntotal
    assert {r.k for r in df.collect()} == set(range(11))


def test_restore_carries_target_stats(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")                                   # v1
    t.append(_df(spark, 0, 100).repartitionByRange(4, "k"))    # v2
    t.compact()                                                # v3
    t.restore(2)                                               # v4
    df, nread, ntotal = t.skip_read(predicates={"k": (0, 10)})
    assert ntotal == 4 and nread == 1                          # still prunes
    assert {r.k for r in df.collect()} == set(range(11))


def test_unorderable_stats_column_skipped_not_wrong(spark, tmp_path):
    """A timestamp stats column collects NO entries (its string form
    orders wrong), so pruning degrades to a full scan — never a crash on
    native bounds, never a mis-prune."""
    import datetime

    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("ts", "k")
    rows = [
        (k, datetime.datetime(2026, 1, 1 + k % 20)) for k in range(100)
    ]
    t.append(
        spark.createDataFrame(rows, "k long, ts timestamp")
        .repartitionByRange(4, "k")
    )
    head = t._read_version(t.snapshot()[0])
    st = t._stats_of(head)
    assert st and all("ts" not in v["c"] and "k" in v["c"] for v in st.values())
    df, nread, ntotal = t.skip_read(
        predicates={
            "ts": (
                datetime.datetime(2026, 1, 5),
                datetime.datetime(2026, 1, 10),
            )
        }
    )
    assert nread == ntotal  # unprunable, and exact
    assert df.count() == sum(
        1 for _, d in rows
        if datetime.datetime(2026, 1, 5) <= d <= datetime.datetime(2026, 1, 10)
    )


def test_skip_read_empty_table_contract(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no committed data"):
        t.skip_read(eq={"k": 1})
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 10).repartition(1))
    t.delete_where(F.col("k") >= 0)          # copy-mode: removes every file
    with pytest.raises(ValueError, match="no committed data"):
        t.skip_read(eq={"k": 1})


def test_dv_antijoin_broadcasts_under_gate(spark, tmp_path):
    """The DV anti-join must keep the fact side exchange-free while the
    sidecar bytes fit the broadcast gate: Catalyst's multi-file size
    estimate demotes it to a sort-merge join (a full fact-side exchange)
    long before the sidecars are actually broadcast-hostile."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2_000).repartition(4))
    t.delete_where(F.col("k") % 7 == 0, mode="dv")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


# ---- bin-packing maintenance ---------------------------------------------


def test_compact_small_rewrites_only_small_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    # one big-ish file and a spray of tiny per-append files
    t.append(_df(spark, 0, 50_000).repartition(1))
    for i in range(5):
        t.append(_df(spark, 100_000 + i * 10, 100_010 + i * 10).repartition(1))
    _, files_pre = t.snapshot()
    sizes = {
        n: t._fs.getFileStatus(
            txlog._jpath(t._jvm, t.root, txlog.DATA_DIR, n)
        ).getLen()
        for n in files_pre
    }
    big = max(sizes, key=sizes.get)
    before = {r.k for r in t.read().collect()}
    v = t.compact_small(max_file_mb=0.05, min_files=2)
    assert v is not None
    _, files_post = t.snapshot()
    assert big in files_post                      # the big file is untouched
    assert len(files_post) < len(files_pre)       # tinies packed together
    assert {r.k for r in t.read().collect()} == before


def test_compact_small_materializes_dvs_on_rewritten_only(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50_000).repartition(1))            # big
    t.append(_df(spark, 100_000, 100_020).repartition(1))     # small
    t.delete_where(F.col("k") == 100_005, mode="dv")          # DV on small
    t.delete_where(F.col("k") == 1, mode="dv")                # DV on big
    before = {r.k for r in t.read().collect()}
    v = t.compact_small(max_file_mb=0.05, min_files=1)
    assert v is not None
    _, files, _, _, _, dv = t._snapshot_full()
    # the small file's DV materialized; the big file keeps its sidecar
    assert len(dv) == 1 and {r.k for r in t.read().collect()} == before
    assert t.compact_small(max_file_mb=0.05, min_files=2) is None  # 1 small left


def test_maintain_runs_measured_policies(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100).repartition(1))
    for k in range(9):                            # 9 sidecars on one file
        t.delete_where(F.col("k") == k, mode="dv")
    for i in range(3):
        t.append(_df(spark, 1000 + i * 10, 1010 + i * 10).repartition(1))
    before = {r.k for r in t.read().collect()}
    out = t.maintain(max_file_mb=0.05, small_min_files=3)
    assert "materialize_dv" in out and "compact_small" in out
    assert not t._snapshot_full()[5]              # all DVs gone
    assert {r.k for r in t.read().collect()} == before
    assert t.maintain(max_file_mb=0.05, small_min_files=3) == {}  # idempotent


def test_compact_small_reuses_untouched_segments(spark, tmp_path, _segmented):
    """Bin-packing over a segmented manifest: segments covering only
    untouched (right-sized) files are referenced unchanged; only the
    small files' segments are replaced."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 400_000).repartition(4))   # 4 right-sized files
    raw_before = _raw(t, t.snapshot()[0])
    for i in range(4):
        t.append(_df(spark, 100_000 + i, 100_001 + i).repartition(1))
    raw_mid = _raw(t, t.snapshot()[0])
    kept = set(raw_before["segments"]) & set(raw_mid["segments"])
    assert kept                                       # appends reuse v1 segs
    before = {r.k for r in t.read().collect()}
    assert t.compact_small(max_file_mb=0.05, min_files=2) is not None
    raw_after = _raw(t, t.snapshot()[0])
    assert kept <= set(raw_after["segments"])         # untouched segs survive
    assert {r.k for r in t.read().collect()} == before


# ---- round 11: vacuum age gate + manifest DV row counts --------------------


def test_vacuum_age_gate_spares_inflight_files(spark, tmp_path, _segmented):
    """Unreferenced-but-FRESH staged files and segments survive a default
    vacuum: an in-flight commit's files are unreferenced by definition
    until its claim wins, so ungated GC racing it would let the winning
    manifest reference deleted segments — corrupting the log itself
    (r10 ADVICE #2).  min_age_ms=0 restores the immediate-reclaim
    behavior for tests / known-quiescent tables."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 8).repartition(2))
    t.append(_df(spark, 8, 16).repartition(2))
    orphan_seg = t._write_segment(["in-flight.parquet"])
    staged = t._stage(_df(spark, 100, 104))  # an in-flight commit's files
    t.vacuum(keep_versions=1)  # default horizon: everything is too fresh
    assert orphan_seg in _disk_segs(t)
    for n in staged:
        assert t._fs.exists(
            txlog._jpath(t._jvm, t.root, txlog.DATA_DIR, n)
        )
    assert t.read().count() == 16
    # past the horizon the same garbage is reclaimed
    t.vacuum(keep_versions=1, min_age_ms=0)
    assert orphan_seg not in _disk_segs(t)
    for n in staged:
        assert not t._fs.exists(
            txlog._jpath(t._jvm, t.root, txlog.DATA_DIR, n)
        )
    assert t.read().count() == 16


def test_dv_rows_ride_manifest_and_gate_broadcast(spark, tmp_path):
    """DV sidecar row counts are recorded at delete time, carried by the
    manifest, and drive the read anti-join's broadcast gate as a
    zero-RPC row-count decision (r10 ADVICE #1: compressed sidecar bytes
    under-estimate the decoded hash relation 10-50x)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100))
    t.delete_where(F.col("k") < 10, mode="dv")
    t.delete_where(F.col("k") >= 95, mode="dv")
    body = t._read_version(t.snapshot()[0])
    sidecars = {n for lst in body["dv"].values() for n in lst}
    assert set(body["dv_rows"]) == sidecars
    assert sum(body["dv_rows"].values()) == 15
    rel = sorted(sidecars)
    # all counts known and small -> broadcast, no size RPC issued
    assert t._dv_broadcast_ok(rel, body["dv_rows"]) is True
    assert t._size_cache == {}
    # counted rows past the cap -> no forced broadcast (monkeypatch-free:
    # feed inflated counts)
    assert (
        t._dv_broadcast_ok(rel, {n: 10_000_000 for n in rel}) is False
    )
    # unknown counts fall back to CACHED sizes, estimated as rows under
    # the SAME row ceiling (r11 ADVICE #3: one gate, no dead byte budget)
    assert t._dv_broadcast_ok(rel, {}) is True       # tiny sidecars
    assert set(t._size_cache) == sidecars            # sizes now cached
    import indra_db_spark.plans.txlog as txmod

    orig = txmod.DV_BROADCAST_MAX_ROWS
    try:
        txmod.DV_BROADCAST_MAX_ROWS = 0
        assert t._dv_broadcast_ok(rel, {}) is False  # estimate binds
    finally:
        txmod.DV_BROADCAST_MAX_ROWS = orig
    # the read itself still answers correctly and plan-pins the broadcast
    assert {r.k for r in t.read().collect()} == set(range(10, 95))
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dv_rows_survive_restore_and_rewrites(spark, tmp_path):
    """dv_rows stays consistent with dv across restore (re-entering
    sidecars keep their counts) and swap commits (materialized sidecars
    drop their entries)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50))
    v_del = t.delete_where(F.col("k") < 5, mode="dv")
    t.delete_where(F.col("k") >= 45, mode="dv")
    t.restore(v_del)
    body = t._read_version(t.snapshot()[0])
    assert set(body["dv_rows"]) == {
        n for lst in body["dv"].values() for n in lst
    }
    assert sum(body["dv_rows"].values()) == 5
    t.materialize_dv(min_sidecars=1)
    body2 = t._read_version(t.snapshot()[0])
    assert "dv" not in body2 or not body2["dv"]
    assert "dv_rows" not in body2 or not body2["dv_rows"]
    assert {r.k for r in t.read().collect()} == set(range(5, 50))


# ---- round 11: segment-level pruning stats (manifest-list aggregates) -----


def test_skip_read_prunes_whole_segments_before_opening(
    spark, tmp_path, _segmented
):
    """Segmented manifests carry per-segment pruning aggregates
    (seg_meta); skip_read must exclude whole segments from the DRIVER
    read path — physical segment opens scale with the segments the box
    admits, not the table's segment count (r10 verdict next-round #1,
    the Iceberg manifest-list shape)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    for i in range(6):  # 6 disjoint key ranges -> 6 full 4-file segments
        t.append(
            _df(spark, i * 100, i * 100 + 100).repartitionByRange(4, "k")
        )
    raw = _raw(t, t.snapshot()[0])
    assert set(raw["seg_meta"]) == set(raw["segments"])
    assert all(
        "c" in m and "k" in m["c"] for m in raw["seg_meta"].values()
    )
    # a cold reader (empty segment cache) resolving a box inside ONE
    # append's range opens exactly the segments admitting the box
    admits = [
        s
        for s in raw["segments"]
        if not (
            raw["seg_meta"][s]["c"]["k"][1] < 250
            or raw["seg_meta"][s]["c"]["k"][0] > 260
        )
    ]
    assert len(admits) < len(raw["segments"])
    r = TxTable(spark, str(tmp_path / "t"))
    assert r.seg_opens == 0
    df, files_read, files_total = r.skip_read(predicates={"k": (250, 260)})
    assert files_total == 24 and files_read < files_total
    assert r.seg_opens == len(admits)
    assert {x.k for x in df.collect()} == set(range(250, 261))
    # a box outside every segment opens ONE segment (schema carrier)
    r2 = TxTable(spark, str(tmp_path / "t"))
    empty, _, _ = r2.skip_read(predicates={"k": (10_000, 10_010)})
    assert r2.seg_opens == 1 and empty.count() == 0


def test_seg_meta_survives_reuse_and_removes(spark, tmp_path, _segmented):
    """Reused segments carry their aggregates forward from the rebase
    base (no re-read needed); a remove that breaks a segment repacks the
    survivors with fresh aggregates — seg_meta always covers exactly the
    referenced segments."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 100).repartitionByRange(4, "k"))
    t.append(_df(spark, 100, 200).repartitionByRange(4, "k"))
    t.delete_where(F.col("k") >= 150)  # breaks only the second segment(s)
    raw = _raw(t, t.snapshot()[0])
    assert set(raw["seg_meta"]) == set(raw["segments"])
    r = TxTable(spark, str(tmp_path / "t"))
    df, files_read, files_total = r.skip_read(predicates={"k": (10, 20)})
    assert files_read < files_total
    assert {x.k for x in df.collect()} == set(range(10, 21))


# ---- round 11: manifest-carried bloom bitmaps ------------------------------


def test_manifest_blooms_prove_absence(spark, tmp_path):
    """set_stats_columns(..., bloom=...) packs per-file bloom words into
    the manifest stats at stage time; skip_read's eq probes then prove
    absence per file with ZERO table scans (r10 verdict next-round #2).
    A miss prunes, an absent value prunes everything but the schema
    carrier, and the residual filter keeps hits exact."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k", bloom=("src",))
    for i, tag in enumerate(("a", "b", "c")):
        t.append(_df(spark, i * 10, i * 10 + 10, tag=tag).coalesce(1))
    body = t._read_version(t.snapshot()[0])
    assert body["bloom_cols"] == ["src"]
    stats = t._stats_of(body)
    assert len(stats) == 3
    from indra_db_spark.operators.sampling import BLOOM_SCHEME

    for st in stats.values():
        m, k, words, scheme = st["b"]["src"]
        assert m == 8192 and k == 3 and words
        assert scheme == BLOOM_SCHEME  # persisted entries are tagged
    df, files_read, files_total = t.skip_read(eq={"src": "b"})
    assert files_total == 3 and files_read == 1
    assert {r.k for r in df.collect()} == set(range(10, 20))
    df2, fr2, _ = t.skip_read(eq={"src": "zzz"})
    assert fr2 == 1 and df2.count() == 0  # schema carrier only


def test_manifest_bloom_int_probe_through_dvs(spark, tmp_path):
    """Int bloom columns probe via the same CAST-AS-STRING preimage, and
    skip_read's survivors still read THROUGH their deletion vectors —
    a bloom hit must never resurrect a deleted row."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("k",))
    t.append(_df(spark, 0, 50).repartition(2))
    t.append(_df(spark, 50, 100).repartition(2))
    t.delete_where(F.col("k") == 7, mode="dv")
    df, fr, ft = t.skip_read(eq={"k": 7})
    assert ft == 4 and fr < ft          # bloom admits only k=7's file(s)
    assert df.count() == 0              # ... but the DV masks the row
    df2, fr2, _ = t.skip_read(eq={"k": 93})
    assert fr2 < ft
    assert [r.k for r in df2.collect()] == [93]
    # a rewrite (compact) recollects blooms for its output files as a
    # side effect — the bloom path keeps answering afterward
    t.compact()
    stats = t._stats_of(t._read_version(t.snapshot()[0]))
    assert stats and all("k" in st.get("b", {}) for st in stats.values())
    df3, _, _ = t.skip_read(eq={"k": 93})
    assert [r.k for r in df3.collect()] == [93]
    df4, _, _ = t.skip_read(eq={"k": 7})
    assert df4.count() == 0  # the DV-deleted row stays deleted


# ---- round 12: segment-level membership blooms (manifest-list tier) --------


def test_segment_blooms_prune_point_lookups_on_unclustered_layout(
    spark, tmp_path, _segmented
):
    """The r11 gap: an eq probe on a hash-distributed key admitted every
    SEGMENT at the range level and had to open all of them to reach the
    per-file bloom words.  With the segment-tier membership blooms
    (seg_meta[s]["b"], the OR-union of the members' segment-sized word
    maps) a cold point lookup opens segments ∝ what the filter ADMITS on
    a 100+-segment repartition()ed (NOT z-ordered) table — the btree
    interior-node story (r11 verdict next-round #1)."""
    from indra_db_spark.plans.skipindex import bloom_positions

    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("k",))
    # hash-distributed: every file holds an arbitrary slice of the key
    # space, so RANGE aggregates cannot separate segments at all
    t.append(
        spark.range(0, 1200)
        .select(F.col("id").alias("k"), F.lit("w").alias("src"))
        .repartition(600, "k")
    )
    v = t.snapshot()[0]
    raw = _raw(t, v)
    assert len(raw["segments"]) >= 100
    metas = raw["seg_meta"]
    assert all("b" in metas[s] and "k" in metas[s]["b"] for s in metas)

    def admits(s, val):
        m, k, words = metas[s]["b"]["k"][:3]
        return all(
            words.get(str(w), 0) & bit for w, bit in bloom_positions(val, m, k)
        )

    admitted = [s for s in raw["segments"] if admits(s, 123)]
    # the true segment plus (near-zero) FPR slack — far under the count
    assert 1 <= len(admitted) <= 5
    r = TxTable(spark, str(tmp_path / "t"))  # COLD reader, empty caches
    df, files_read, files_total = r.skip_read(eq={"k": 123})
    assert files_total == raw["n_files"]
    assert r.seg_opens == len(admitted)        # opens ∝ admitted segments
    assert files_read <= 2 * len(admitted)     # per-file tier then prunes
    assert [x.k for x in df.collect()] == [123]
    # an ABSENT key: every segment's filter proves absence — one
    # schema-carrier segment is opened, nothing else
    r2 = TxTable(spark, str(tmp_path / "t"))
    empty, _, _ = r2.skip_read(eq={"k": 10_000})
    assert r2.seg_opens == 1 and empty.count() == 0
    # carry-forward: an append reuses the base segments (their seg_meta
    # blooms ride along, never recomputed) and the cold probe still
    # scales with admission, now including the new segment's filter
    t2 = TxTable(spark, str(tmp_path / "t"))
    t2.append(
        spark.range(1200, 1202)
        .select(F.col("id").alias("k"), F.lit("w").alias("src"))
        .coalesce(1)
    )
    raw2 = _raw(t2, t2.snapshot()[0])
    assert set(raw["segments"]) <= set(raw2["segments"])
    for s in raw["segments"]:
        assert raw2["seg_meta"][s] == metas[s]
    r3 = TxTable(spark, str(tmp_path / "t"))
    df3, _, ft3 = r3.skip_read(eq={"k": 123})
    assert ft3 == raw["n_files"] + 1
    assert r3.seg_opens <= len(admitted) + 1
    assert [x.k for x in df3.collect()] == [123]


def test_key_ordered_segments_prune_unique_key_point_lookups(
    spark, tmp_path, _segmented, monkeypatch
):
    """r12 verdict next-round #2: a UNIQUE key saturates any budgeted
    segment bloom by design (the documented boundary — bloom_seg_m=0),
    so cold point lookups on an unclustered layout opened every segment.
    The scale-safe shape is the key-clustered serving layout:
    ``optimize(key)`` (single-column sort-order rewrite) plus
    ``_plan_segments`` packing fresh files in key-min order makes
    ``seg_meta``'s per-segment ranges DISJOINT — a cold eq probe then
    opens segments ∝ what the ranges admit, with zero new metadata (the
    btree-interior-node story for unique keys)."""
    # emulate the at-scale saturation honestly: at SEGMENT_TARGET_FILES
    # =1024 a unique key's per-segment union blows the word budget and
    # is dropped (the documented boundary); the fixture's 4-file toy
    # segments would sneak under it, so the budget is pinned to zero
    monkeypatch.setattr(txlog, "SEG_BLOOM_MAX_WORDS", 0)
    t = TxTable(spark, str(tmp_path / "t"))
    # the unique key is the FIRST stats column (drives segment packing);
    # segment-tier blooms stay off — they would saturate and be dropped
    t.set_stats_columns("k", bloom=("k",), bloom_seg_m=0)
    # hash-distributed ingest: ranges are useless before the rewrite
    t.append(
        spark.range(0, 2400)
        .select(F.col("id").alias("k"), F.lit("w").alias("src"))
        .repartition(600, "k")
    )
    cold0 = TxTable(spark, str(tmp_path / "t"))
    # mid-domain probe: a random-keyed segment's [min, max] usually
    # straddles the midpoint, so with the seg blooms dropped the vast
    # majority of segments must be opened — the gap this layout closes
    # (hash skew gives some segments few keys, hence the 2/3 floor
    # rather than an exact count; the post-rewrite probe opens ONE)
    cold0.skip_read(eq={"k": 1200})
    raw0 = _raw(t, t.snapshot()[0])
    assert len(raw0["segments"]) >= 100
    assert cold0.seg_opens >= (2 * len(raw0["segments"])) // 3

    t.optimize("k", n_files=600)  # the serving rewrite
    raw = _raw(t, t.snapshot()[0])
    assert len(raw["segments"]) >= 100
    metas = raw["seg_meta"]
    admitted = [
        s
        for s in raw["segments"]
        if metas[s]["c"]["k"][0] <= 123 <= metas[s]["c"]["k"][1]
    ]
    assert len(admitted) == 1  # disjoint seg ranges: exactly one admits
    r = TxTable(spark, str(tmp_path / "t"))  # COLD reader, empty caches
    df, files_read, files_total = r.skip_read(eq={"k": 123})
    assert files_total == raw["n_files"]
    assert r.seg_opens == 1                  # opens ∝ range-admitted segs
    assert files_read <= 2                   # file ranges then pin ~1 file
    assert [x.k for x in df.collect()] == [123]
    # a key outside the table's domain: every segment range excludes it —
    # one schema-carrier segment, empty result
    r2 = TxTable(spark, str(tmp_path / "t"))
    empty, _, _ = r2.skip_read(eq={"k": 10_000})
    assert r2.seg_opens == 1 and empty.count() == 0
    # an IN-list spanning the domain still opens only its segments
    r3 = TxTable(spark, str(tmp_path / "t"))
    df3, fr3, _ = r3.skip_read(eq={"k": [0, 1200, 2399]})
    assert r3.seg_opens <= 3 and fr3 <= 6
    assert {x.k for x in df3.collect()} == {0, 1200, 2399}


def test_bloom_probe_duty_cycle_rearms_on_correlated_tail(
    spark, tmp_path, _segmented
):
    """r13: pure abandonment is fooled by INGEST-ORDER CORRELATION —
    when the probed keys cluster in the first-iterated segments, a
    first-64 estimate of 'saturating list' would write off a tail that
    prunes perfectly.  The duty cycle keeps sampling every 64th entry
    and RE-ARMS full probing when a sample prunes, so the correlated
    case loses at most ~one skip window, not the whole tail.

    Layout: 256 segments packed in ord-min order (deterministic
    iteration), bloom column k == segment index block; the 288-value
    probe list hits exactly the first 72 segments.  Expected: segments
    0-63 probed+admitted (saturation), ~63 skipped-admitted, then a
    sampled PRUNE re-arms and the remaining ~128 segments are pruned —
    far below the 256 a pure abandonment would open."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("ord", bloom=("k",))
    t.append(
        spark.range(0, 4096)
        .select(
            F.col("id").alias("ord"),
            (F.col("id") / 4).cast("long").alias("k"),
        )
        .repartitionByRange(1024, "ord")
    )
    raw = _raw(t, t.snapshot()[0])
    assert len(raw["segments"]) >= 250
    vals = list(range(288))  # k of the first 72 segments (4 ks/segment)
    r = TxTable(spark, str(tmp_path / "t"))
    df, fr, ft = r.skip_read(eq={"k": vals})
    # every true-hit row comes back exactly once (4 rows per k value)
    assert df.count() == 288 * 4
    # the tail was NOT written off: far fewer segment opens than the
    # table holds (72 true + one skip window + sampling slack)
    assert r.seg_opens <= 150, r.seg_opens
    assert fr < ft


def test_sized_rewrites_cluster_by_first_stats_column(spark, tmp_path):
    """r13: compact/compact_small stage their outputs range-partitioned
    on the table's first stats column (plain repartition() destroyed the
    serving layout's key clustering every maintenance pass) — staged
    files must carry tight, pairwise-disjoint key ranges."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k")
    t.append(_df(spark, 0, 100).coalesce(1))
    t._snapshot_full()  # pin the rebase base carrying the stats config
    staged = t._stage(_df(spark, 0, 400), n_files=4)
    assert len(staged) == 4
    rngs = sorted(
        tuple(t._pending_stats[f]["c"]["k"]) for f in staged
    )
    for (_, hi), (lo2, _) in zip(rngs, rngs[1:]):
        assert hi < lo2, rngs  # disjoint — range-clustered output


def test_bloom_probe_abandons_saturating_lists_but_stays_exact(
    spark, tmp_path, _segmented
):
    """r12 verdict next-round #4: a long IN list defeats bloom pruning
    (per-value FPR × list length admits ~every file), so skip_read now
    ABANDONS probing a level once ≥64 probed entries admitted ≥90% —
    pure driver-time savings.  Admitting unprobed is always sound: the
    result must stay exact, with the one present value found and the
    absent ones filtered by the residual."""
    t = TxTable(spark, str(tmp_path / "t"))
    # tiny m: per-file load ~0.4, so a 1900-value list saturates every
    # file's filter exactly as a 2000-hash page does at production scale
    t.set_stats_columns(bloom=("k",), bloom_m=64)
    t.append(
        spark.range(0, 400)
        .select(F.col("id").alias("k"), F.lit("w").alias("src"))
        .repartition(100, "k")
    )
    vals = [123] + list(range(10_000, 11_900))
    df, fr, ft = t.skip_read(eq={"k": vals})
    assert ft >= 95  # hash layout may leave a few empty partitions
    assert [r.k for r in df.collect()] == [123]
    # and a SHORT selective list on the same table still prunes hard —
    # abandonment state is per-skip_read-call, never sticky
    df2, fr2, ft2 = t.skip_read(eq={"k": 123})
    assert fr2 < ft2
    assert [r.k for r in df2.collect()] == [123]


def test_segment_bloom_budget_gates_drop_not_mis_prune(
    spark, tmp_path, _segmented, monkeypatch
):
    """Past the word budget (manifest bytes) or the occupancy gate
    (saturation) a segment simply carries NO membership bloom — eq
    probes then open it for its per-file words; answers never change."""
    monkeypatch.setattr(txlog, "SEG_BLOOM_MAX_WORDS", 2)
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("k",))
    t.append(_df(spark, 0, 32).repartition(8, "k"))
    raw = _raw(t, t.snapshot()[0])
    assert all("b" not in m for m in raw["seg_meta"].values())
    r = TxTable(spark, str(tmp_path / "t"))
    df, fr, ft = r.skip_read(eq={"k": 7})
    assert ft == 8 and fr < ft                # per-file tier still prunes
    assert [x.k for x in df.collect()] == [7]
    assert r.seg_opens == len(raw["segments"])  # no segment-level help
    # occupancy gate: a filter allowed to saturate is dead weight
    monkeypatch.setattr(txlog, "SEG_BLOOM_MAX_WORDS", 4096)
    monkeypatch.setattr(txlog, "SEG_BLOOM_MAX_LOAD", 0.0)
    t.append(_df(spark, 32, 36).coalesce(1))
    raw2 = _raw(t, t.snapshot()[0])
    fresh = [s for s in raw2["segments"] if s not in raw["seg_meta"]]
    assert fresh and all(
        "b" not in raw2["seg_meta"][s] for s in fresh
    )


def test_segment_blooms_from_file_tier_when_seg_tier_disabled(
    spark, tmp_path, _segmented
):
    """bloom_seg_m=0 skips the second per-file word set; _segment_meta
    then unions the FILE-tier words (same m/k across members) — legacy
    tables predating the segment tier get segment pruning for free while
    their per-file budget stays unsaturated."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("k",), bloom_seg_m=0)
    t.append(_df(spark, 0, 64).repartition(16, "k"))
    body = t._read_version(t.snapshot()[0])
    stats = t._stats_of(body)
    assert all("sb" not in st for st in stats.values())
    raw = _raw(t, t.snapshot()[0])
    ms = {m["b"]["k"][0] for m in raw["seg_meta"].values()}
    assert ms == {8192}  # file-tier budget, not a segment-sized m
    r = TxTable(spark, str(tmp_path / "t"))
    df, fr, ft = r.skip_read(eq={"k": 11})
    assert ft == 16 and fr < ft
    assert r.seg_opens < len(raw["segments"])
    assert [x.k for x in df.collect()] == [11]


def test_segment_meta_bloom_union_rules():
    """Pure unit on _segment_meta's union: the segment tier (sb) is
    preferred over the file tier (b); members under MIXED (m, k) drop
    the column; the union ORs word maps exactly."""
    from indra_db_spark.plans.skipindex import bloom_positions

    from indra_db_spark.operators.sampling import BLOOM_SCHEME

    def entry(m, vals, tier):
        words = {}
        for v in vals:
            for w, bit in bloom_positions(v, m, 3):
                words[str(w)] = words.get(str(w), 0) | bit
        return {tier: {"x": [m, 3, words, BLOOM_SCHEME]}}

    a = {"n": 1, **entry(8192, [1], "b"), **entry(65536, [1], "sb")}
    b = {"n": 1, **entry(8192, [2], "b"), **entry(65536, [2], "sb")}
    meta = TxTable._segment_meta(["fa", "fb"], {"fa": a, "fb": b})
    m, k, words = meta["b"]["x"][:3]
    assert m == 65536  # sb preferred
    for v in (1, 2):
        assert all(
            words.get(str(w), 0) & bit
            for w, bit in bloom_positions(v, 65536, 3)
        )
    assert not all(
        words.get(str(w), 0) & bit
        for w, bit in bloom_positions(999, 65536, 3)
    )
    # mixed sb budgets: sb dropped, but the consistent b tier still unions
    c = {"n": 1, **entry(8192, [3], "b"), **entry(32768, [3], "sb")}
    meta2 = TxTable._segment_meta(["fa", "fc"], {"fa": a, "fc": c})
    assert meta2["b"]["x"][0] == 8192
    # mixed everywhere: no bloom at all
    d = {"n": 1, **entry(4096, [4], "b"), **entry(32768, [4], "sb")}
    meta3 = TxTable._segment_meta(["fa", "fd"], {"fa": a, "fd": d})
    assert "b" not in meta3


def test_losing_claims_reuse_segments_across_retries(
    spark, tmp_path, _segmented
):
    """A contended commit re-plans per retry, but when the re-plan packs
    the identical leftover (the append-race case), the segments written
    by the LOSING attempt are referenced again instead of re-minted —
    orphaned segments per contended commit are O(1), not O(retries)
    (r10 verdict finding #3)."""
    root = str(tmp_path / "t")
    t = TxTable(spark, root)
    t.append(_df(spark, 0, 40).repartition(4))
    state = {"left": 3, "busy": False}

    def racer():
        if state["busy"] or state["left"] <= 0:
            return
        state["busy"] = True
        state["left"] -= 1
        try:
            TxTable(spark, root).append(
                _df(spark, 1000 + state["left"] * 40,
                    1040 + state["left"] * 40).repartition(4)
            )
        finally:
            state["busy"] = False

    txlog._pre_claim_hook = racer
    try:
        t.append(_df(spark, 100, 140).repartition(4))
    finally:
        txlog._pre_claim_hook = None
    assert state["left"] == 0          # the commit really lost 3 races
    assert t.read().count() == 200     # everyone's rows landed
    referenced = set()
    for v in t._versions():
        referenced |= set(_raw(t, v).get("segments", ()))
    orphans = _disk_segs(t) - referenced
    assert len(orphans) == 0           # reuse: no per-retry garbage


def test_cold_open_prefetches_segments_concurrently(
    spark, tmp_path, _segmented
):
    """A cold snapshot resolves its segment misses through the
    concurrent prefetch (one fan-in instead of N serial reads on an
    object store) with an identical file list — and a prefetch failure
    degrades to the sequential path's real error, never a wrong list."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(8):
        t.append(_df(spark, i * 10, i * 10 + 10).repartition(1))
    v, files = t.snapshot()
    cold = TxTable(spark, str(tmp_path / "t"))
    assert cold.seg_opens == 0
    v2, files2 = cold.snapshot()
    assert (v2, sorted(files2)) == (v, sorted(files))
    assert cold.seg_opens == len(_raw(t, v)["segments"])
    assert {r.k for r in cold.read().collect()} == set(range(80))


def test_optimize_n_dim_zorder_prunes_every_dim(spark, tmp_path):
    """OPTIMIZE accepts any number of Z-order dimensions (Delta
    ZORDER BY c1..cN): after a 3-dim rewrite, a box on EACH single
    dimension prunes files through the manifest stats, and results stay
    exact."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("a", "b", "c")
    df = spark.range(0, 20_000).select(
        (F.col("id") % 97).alias("a"),
        ((F.col("id") * 31) % 89).alias("b"),
        ((F.col("id") * 57) % 83).alias("c"),
    )
    t.append(df.repartition(16))        # random layout: nothing prunes
    v = t.optimize("a", "b", "c", n_files=16)
    assert v is not None
    _, files = t.snapshot()
    assert len(files) == 16
    for dim, mod in (("a", 97), ("b", 89), ("c", 83)):
        got, files_read, files_total = t.skip_read(
            predicates={dim: (0, 9)}
        )
        assert files_total == 16 and files_read < files_total, (
            dim, files_read,
        )
        got_ids = {
            (r.a, r.b, r.c) for r in got.collect()
        }
        assert len(got_ids) > 0
        # exactness: every surviving row satisfies the box
        assert all(
            dict(zip(("a", "b", "c"), k))[dim] <= 9 for k in got_ids
        )
        # completeness vs the direct filter
        direct = {
            (r.a, r.b, r.c)
            for r in df.filter(F.col(dim) <= 9).distinct().collect()
        }
        assert got_ids == direct


def test_multi_bloom_columns_one_collection_pass(spark, tmp_path):
    """Several bloom columns collect in ONE job per stage and all probe
    correctly (the per-column loop paid N scans of the delta per
    commit)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("k", "src"))
    for i, tag in enumerate(("a", "b")):
        t.append(_df(spark, i * 10, i * 10 + 10, tag=tag).coalesce(1))
    stats = t._stats_of(t._read_version(t.snapshot()[0]))
    for st in stats.values():
        assert set(st["b"]) == {"k", "src"}
        assert all(words for _, _, words, _ in st["b"].values())
    df, fr, ft = t.skip_read(eq={"src": "b"})
    assert ft == 2 and fr == 1
    assert {r.k for r in df.collect()} == set(range(10, 20))
    df2, fr2, _ = t.skip_read(eq={"k": 3, "src": "a"})
    assert fr2 == 1 and [r.k for r in df2.collect()] == [3]
    # conjunction with a miss on either column proves absence
    df3, fr3, _ = t.skip_read(eq={"k": 3, "src": "b"})
    assert df3.count() == 0


def test_optimize_rejects_positional_n_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    with pytest.raises(TypeError, match="column NAMES"):
        t.optimize("k", "k", 8)


def test_dv_broadcast_budgets_share_one_ceiling(spark, tmp_path):
    """Counted rows and size-estimated rows of uncounted sidecars share
    the row ceiling — two independent budgets would admit their SUM."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100))
    t.delete_where(F.col("k") < 5, mode="dv")
    t.delete_where(F.col("k") >= 95, mode="dv")
    body = t._read_version(t.snapshot()[0])
    rel = sorted({n for lst in body["dv"].values() for n in lst})
    assert len(rel) == 2
    # one sidecar counted close to the cap, the other UNCOUNTED: its
    # size-estimated rows (bytes // 2) must push the JOINT total past
    # the shared ceiling — two independent budgets would admit the sum
    near_cap = {rel[0]: txlog.DV_BROADCAST_MAX_ROWS - 10}
    assert t._dv_broadcast_ok(rel, near_cap) is False
    # the real (small) counts and the pure-size path both stay under
    assert t._dv_broadcast_ok(rel, body["dv_rows"]) is True
    assert t._dv_broadcast_ok(rel, {}) is True


def test_skip_read_probe_budget_admits_not_wrong(spark, tmp_path, monkeypatch):
    """Past the probe budget, files are ADMITTED unprobed — results stay
    exact, only pruning degrades."""
    monkeypatch.setattr(txlog, "SKIP_READ_PROBE_BUDGET", 1)
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns(bloom=("src",))
    for i, tag in enumerate(("a", "b", "c")):
        t.append(_df(spark, i * 10, i * 10 + 10, tag=tag).coalesce(1))
    df, fr, ft = t.skip_read(eq={"src": "b"})
    assert ft == 3 and fr >= 2  # at most one file was probed out
    assert {r.k for r in df.collect()} == set(range(10, 20))


# ---- round 14: bloom position-hash scheme versioning -----------------------


def test_untagged_bloom_words_never_misprune(spark, tmp_path):
    """Persisted bloom entries carry the position-hash scheme tag; a
    lake written by PRE-TAG code (the hash changed md5→xxhash64 in r13,
    so untagged words may be hashed under either scheme) must never be
    probed with the current scheme — probing foreign words can "prove"
    absence of PRESENT keys and silently drop rows (r13 verdict,
    "what's wrong" #1 / next-round #2).  Simulates the old lake by
    stripping the tag AND corrupting the word positions the way a
    scheme change does; the reader must admit every file unpruned and
    return exact rows."""
    import json

    from indra_db_spark.operators.sampling import BLOOM_SCHEME

    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k", bloom=("src",))
    for i, tag in enumerate(("a", "b", "c")):
        t.append(_df(spark, i * 10, i * 10 + 10, tag=tag).coalesce(1))
    v = t.snapshot()[0]
    # tagged entries: the probe engages and prunes to the one true file
    df, fr, ft = t.skip_read(eq={"src": "b"})
    assert ft == 3 and fr == 1
    assert {r.k for r in df.collect()} == set(range(10, 20))

    # rewrite the manifest as an OLD writer would have: 3-element
    # entries, word positions hashed under a different scheme (rotate
    # the word keys — every current-scheme probe now misses)
    body = _raw(t, v)
    for st in body["stats"].values():
        m, k, words, scheme = st["b"]["src"]
        assert scheme == BLOOM_SCHEME
        rotated = {
            str((int(w) + 7) % max(1, m // 64)): mask
            for w, mask in words.items()
        }
        st["b"]["src"] = [m, k, rotated]
    (tmp_path / "t" / txlog.LOG_DIR / f"v{v:012d}.json").write_text(
        json.dumps(body)
    )

    r = TxTable(spark, str(tmp_path / "t"))  # cold reader, fresh caches
    df2, fr2, ft2 = r.skip_read(eq={"src": "b"})
    # every file admitted (no bloom prune), rows exact — the corrupted
    # words were NOT consulted; range stats on "k" don't apply to "src"
    assert ft2 == 3 and fr2 == 3
    assert {r_.k for r_ in df2.collect()} == set(range(10, 20))


def test_segment_meta_drops_untagged_bloom_words(spark):
    """_segment_meta refuses to union word maps whose scheme is unknown
    (untagged = pre-r14 writer): the segment carries no membership
    bloom — correct, just unhelped."""
    from indra_db_spark.plans.skipindex import bloom_positions

    def words_for(vals, m):
        words = {}
        for v in vals:
            for w, bit in bloom_positions(v, m, 3):
                words[str(w)] = words.get(str(w), 0) | bit
        return words

    untagged = {
        f: {"n": 1, "b": {"x": [8192, 3, words_for([i], 8192)]}}
        for i, f in enumerate(("fa", "fb"))
    }
    meta = TxTable._segment_meta(["fa", "fb"], untagged)
    assert "b" not in meta
    # and a MIX of tagged + untagged members is just as unprobeable
    mixed = dict(untagged)
    mixed["fb"] = {
        "n": 1,
        "b": {"x": [8192, 3, words_for([1], 8192), "xxh64"]},
    }
    meta2 = TxTable._segment_meta(["fa", "fb"], mixed)
    assert "b" not in meta2


class _CountingFs:
    """A Hadoop FileSystem stand-in that records every call."""

    def __init__(self, fs):
        self._inner, self.calls = fs, []

    def __getattr__(self, name):
        self.calls.append(name)
        return getattr(self._inner, name)


def test_pinned_skip_read_makes_no_filesystem_call(spark, tmp_path,
                                                   monkeypatch):
    """A committed version never changes, so once pinned a skip_read at
    it resolves from memory: no log listing, no manifest read, no other
    filesystem call and builds no relation — only the driver-side prune
    — and its rows equal the version's rows filtered the same way."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k", bloom=("k",))
    t.append(_df(spark, 0, 40).repartitionByRange(4, "k"))
    v = t.append(_df(spark, 40, 60, tag="x").coalesce(1))
    t.pin(v)
    t.skip_read(eq={"k": [3, 45]}, version=v)  # first read fills caches
    reads = []
    real_read = t._read_log_json
    monkeypatch.setattr(
        t, "_read_log_json", lambda name: reads.append(name) or real_read(name)
    )
    fs = _CountingFs(t._fs)
    monkeypatch.setattr(t, "_fs", fs)
    builds = []
    monkeypatch.setattr(t, "_read_files", lambda *a: builds.append(a))
    df, fr, ft = t.skip_read(eq={"k": [3, 45]}, version=v)
    assert reads == [] and fs.calls == [] and builds == []
    assert (fr, ft) == (2, 5)
    assert sorted(r.k for r in df.collect()) == [3, 45]
    df, fr, ft = t.skip_read(predicates={"k": (None, 100)}, version=v)
    assert fr == ft == 5 and df.count() == 60  # all survive: no filter


def test_pinned_skip_read_applies_deletion_vectors(spark, tmp_path):
    """At a pinned version carrying deletion vectors, the narrowed
    relation still applies the survivors' vectors: skip_read equals
    read(v) filtered the same way, deleted rows included in the probe."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_stats_columns("k", bloom=("k",))
    t.append(_df(spark, 0, 40).repartitionByRange(4, "k"))
    v = t.delete_where(F.col("k").isin(3, 4, 30), mode="dv")
    assert t._read_version(v).get("dv")
    t.pin(v)
    probe = [2, 3, 4, 5, 30, 31]
    want = sorted(
        r.k for r in t.read(v).filter(F.col("k").isin(probe)).collect()
    )
    df, fr, ft = t.skip_read(eq={"k": probe}, version=v)
    assert fr < ft
    assert sorted(r.k for r in df.collect()) == want == [2, 5, 31]


def test_first_append_records_schema(spark, tmp_path):
    """The first append records the table schema (fully nullable, as a
    footer would read), so a reader opens the table through it; later
    appends are checked against it exactly as before."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, [1])], "k bigint not null, a array<int>")
    t.append(df)
    schema = t._read_version(1)["schema"]
    assert all(f["nullable"] for f in schema["fields"])
    assert t.table_schema() == spark.read.parquet(
        f"{t.root}/data/{t.snapshot()[1][0]}"
    ).schema
    t.append(spark.createDataFrame([(2, None)], "k bigint, a array<int>"))
    assert t._read_version(2)["schema"] == schema
    assert [h["schema_evolved"] for h in t.history()] == [False, False]


def test_residual_in_list_keeps_isin_semantics(spark):
    """residual_filter's one-call IN list keeps F.isin's exact answer
    for every literal kind it spells, and falls back to isin for values
    it cannot spell (quotes, backslashes, NaN)."""
    rows = [
        (1, "a", 1.5, True), (2, "o'k", float("nan"), False),
        (3, "b\\c", -0.25, None), (None, None, None, None),
        (3_000_000_000, "", 1e-05, True),
    ]
    df = spark.createDataFrame(rows, "i bigint, s string, d double, b boolean")
    cases = {
        "i": [1, 3_000_000_000, -7, None],
        "s": ["a", "o'k", "b\\c", ""],
        "d": [1.5, float("nan"), 1e-05],
        "b": [True, None],
    }
    for c, vals in cases.items():
        got = df.filter(txlog.residual_filter({}, {c: vals})).collect()
        want = df.filter(F.col(c).isin(vals)).collect()
        assert sorted(map(str, got)) == sorted(map(str, want)) and want, c
