from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine, lww_dedup
from radiant_portal_pipeline_spark.cdc.feed import feed_from_events
from radiant_portal_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA

TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(conv, turn, op, lsn, text, tool=None, role="user", epoch=0):
    return (conv, turn, role, text, tool, TS, op, lsn, epoch)


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


@pytest.fixture(params=["mor", "cow"])
def engine(spark, tmp_path, request):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "transcripts"), num_buckets=8)
    return TranscriptMergeEngine(tbl, mode=request.param)


def state(engine):
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
        for r in engine.current_state().collect()
    }


def test_lww_dedup_agg_matches_window(spark):
    rows = [
        _ev("c1", 0, "U", 5, "new"),
        _ev("c1", 0, "U", 3, "old"),
        _ev("c1", 1, "U", 1, "only"),
        _ev("c2", 0, "D", 9, "del"),
        _ev("c2", 0, "U", 8, "upd"),
    ]
    df = _batch(spark, rows)
    a = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"])
    b = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"], use_window=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    got = {(r["conv_id"], r["turn_idx"]): r["lsn"] for r in a.collect()}
    assert got == {("c1", 0): 5, ("c1", 1): 1, ("c2", 0): 9}


def test_lww_dedup_strategies_agree_with_verbatim_dups(spark):
    """argmax / max_struct / window must produce identical rows — the
    whole-plan gate for swapping the default. Includes verbatim
    duplicates (at-least-once replay: same key, same lsn, same payload)
    which argmax collapses via its partition-local distinct."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(spark, 5_000, dup_frac=0.1)
    args = (feed, ["conv_id", "turn_idx"], ["lsn"])
    am = lww_dedup(*args, via="argmax")
    ms = lww_dedup(*args, via="max_struct")
    win = lww_dedup(*args, use_window=True)
    assert am.columns == feed.columns
    rows_am = sorted(map(tuple, am.collect()))
    assert rows_am == sorted(map(tuple, ms.collect()))
    assert rows_am == sorted(map(tuple, win.collect()))
    # one row per key even where the winner itself was replayed verbatim
    assert am.count() == am.select("conv_id", "turn_idx").distinct().count()


def test_lww_argmax_rejects_ineligible_schema(spark):
    import pytest
    from pyspark.sql import functions as F

    df = _batch(spark, [_ev("c1", 0, "U", 5, "x")]).withColumn(
        "attrs", F.create_map(F.lit("k"), F.lit("v"))
    )
    with pytest.raises(ValueError, match="argmax"):
        lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"], via="argmax")
    # auto silently falls back (to the window — neither hash plan can
    # serve a map payload: maps can't be grouping keys or be ordered
    # inside the max-struct)
    assert lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"]).count() == 1


def test_merge_upsert_update_delete(engine, spark):
    engine.merge_batch(
        _batch(spark, [_ev("c1", 0, "I", 1, "hello"), _ev("c1", 1, "I", 2, "world")]),
        epoch=0,
    )
    assert state(engine) == {("c1", 0): ("hello", 1), ("c1", 1): ("world", 2)}
    engine.merge_batch(
        _batch(spark, [_ev("c1", 0, "U", 3, "hello!"), _ev("c1", 1, "D", 4, "x")]),
        epoch=1,
    )
    assert state(engine) == {("c1", 0): ("hello!", 3)}


def test_merge_exactly_once_replay(engine, spark):
    b0 = _batch(spark, [_ev("c1", 0, "I", 1, "v1")])
    b1 = _batch(spark, [_ev("c1", 0, "U", 2, "v2")])
    assert not engine.merge_batch(b0, epoch=0).skipped
    assert not engine.merge_batch(b1, epoch=1).skipped
    # replaying either batch (same epoch) is a no-op
    assert engine.merge_batch(b0, epoch=0).skipped
    assert engine.merge_batch(b1, epoch=1).skipped
    assert state(engine) == {("c1", 0): ("v2", 2)}


def test_out_of_order_lsn_across_batches(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 10, "newest")]), epoch=0)
    # a straggler with a lower lsn must NOT overwrite
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 5, "stale")]), epoch=1)
    assert state(engine) == {("c1", 0): ("newest", 10)}


def test_tombstone_blocks_resurrection(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "D", 10, "gone")]), epoch=0)
    # out-of-order update older than the delete arrives later
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 5, "zombie")]), epoch=1)
    assert state(engine) == {}
    # but a genuinely newer write revives the key
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 11, "back")]), epoch=2)
    assert state(engine) == {("c1", 0): ("back", 11)}


def test_schema_evolution_mid_stream(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "I", 1, "plain")]), epoch=0)
    wider = _batch(spark, [_ev("c2", 0, "I", 2, "rich")]).withColumn(
        "model", F.lit("m-1")
    )
    engine.merge_batch(wider, epoch=1)
    out = {
        r["conv_id"]: r["model"]
        for r in engine.current_state(include_meta=True).collect()
    }
    assert out == {"c1": None, "c2": "m-1"}


def test_replay_from_scratch_equals_incremental(engine, spark, tmp_path, sf_smoke):
    """Byte-identical final state: applying the feed in epoch batches
    equals applying it in one batch (per BASELINE.json north_rule), in
    BOTH physical modes, and compaction must not change the state."""
    feed = feed_from_events(spark, sf_smoke).cache()
    epochs = sorted(r[0] for r in feed.select("commit_epoch").distinct().collect())
    for e in epochs:
        engine.merge_batch(feed.filter(F.col("commit_epoch") == e), epoch=e)

    tbl2 = TranscriptMergeEngine.create_table(spark, str(tmp_path / "oneshot"), num_buckets=8)
    eng2 = TranscriptMergeEngine(tbl2)
    eng2.merge_batch(feed, epoch=0)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    a = sorted(map(tuple, engine.current_state().select(cols).collect()))
    b = sorted(map(tuple, eng2.current_state().select(cols).collect()))
    assert a == b and len(a) > 0

    engine.compact()
    c = sorted(map(tuple, engine.current_state().select(cols).collect()))
    assert c == a


def test_mor_cow_equivalence_with_interleaved_deletes(spark, tmp_path):
    rows = [
        _ev("c1", 0, "I", 1, "a"),
        _ev("c1", 0, "D", 4, "x"),
        _ev("c1", 0, "U", 3, "late"),
        _ev("c2", 1, "U", 2, "keep"),
    ]
    finals = {}
    for mode in ("mor", "cow"):
        tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / mode), num_buckets=4)
        eng = TranscriptMergeEngine(tbl, mode=mode)
        for i, r in enumerate(rows):  # one event per batch, worst case
            eng.merge_batch(_batch(spark, [r]), epoch=i)
        finals[mode] = sorted(map(tuple, eng.current_state().collect()))
    assert finals["mor"] == finals["cow"]
    assert len(finals["mor"]) == 1  # only c2 survives


def test_null_key_batch_rejected(spark, tmp_path):
    import pyspark.errors

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    import pyspark.sql.types as T

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENT_SCHEMA.fields]
    )
    bad = spark.createDataFrame(
        [(None, 0, "user", "x", None, TS, "U", 1, 0)], nullable
    )
    with pytest.raises(Exception, match="NULL in a key column"):
        eng.merge_batch(bad, epoch=0)
    # table untouched
    assert eng.current_state().count() == 0


def test_compact_purges_old_tombstones(spark, tmp_path):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    eng.merge_batch(
        _batch(spark, [_ev("c1", 0, "D", 5, "dead"), _ev("c2", 0, "U", 10, "live")]),
        epoch=0,
    )
    assert eng.raw_state().count() == 2  # tombstone retained
    eng.compact(purge_tombstones_below=6)
    rows = eng.raw_state().collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == "c2"
    # a tombstone at/above the low-watermark survives compaction
    eng.merge_batch(_batch(spark, [_ev("c3", 0, "D", 20, "recent")]), epoch=1)
    eng.compact(purge_tombstones_below=6)
    assert eng.raw_state().filter("_deleted").count() == 1


def test_lineage_watermarks(engine, spark):
    engine.merge_batch(
        _batch(
            spark,
            [_ev("c1", 0, "I", 1, "a"), _ev("c2", 0, "I", 2, "b"), _ev("c2", 1, "D", 3, "c")],
        ),
        epoch=0,
    )
    wm = {r["part"]: r for r in engine.applied_lsn_watermarks().collect()}
    assert sum(r["rows_total"] for r in wm.values()) == 3
    assert sum(r["tombstones"] for r in wm.values()) == 1
    assert max(r["applied_lsn"] for r in wm.values()) == 3


def test_incremental_compaction_policy_bounds_files(spark, tmp_path):
    """X12: a long-running MoR table converges to bounded files/bucket
    under the min_files policy, with partition-scoped rewrites only."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    for e in range(12):
        eng.merge_batch(
            _batch(spark, [
                _ev(f"c{i}", 0, "U", e * 100 + i, f"t{e}-{i}") for i in range(8)
            ]),
            epoch=e,
        )
        done = eng.compact(min_files_per_bucket=5)
        snap = tbl.snapshot()
        assert max(len(fs) for fs in snap.files.values()) < 6
        if done:  # compaction rewrote ONLY qualifying buckets
            assert all(len(snap.files[str(p)]) == 1 for p in done)
    # a fully-compacted table: policy pass is a no-op (no version bump)
    eng.compact(min_files_per_bucket=5)
    v = tbl.snapshot().version
    assert eng.compact(min_files_per_bucket=5) == []
    assert tbl.snapshot().version == v


def test_changes_since_prunes_files_and_is_lww_correct(spark, tmp_path):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=2)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a"), _ev("c2", 0, "U", 2, "b")]), epoch=0)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 10, "a2")]), epoch=1)
    eng.merge_batch(_batch(spark, [_ev("c3", 0, "U", 20, "c")]), epoch=2)
    # delta read above lsn=5: only epochs 1-2 rows, LWW folded
    delta = {
        (r["conv_id"], r["turn_idx"]): r["lsn"]
        for r in eng.changes_since(5).collect()
    }
    assert delta == {("c1", 0): 10, ("c3", 0): 20}
    # file skipping really pruned: scanned files < live files
    skipped = tbl.live_files(skip={"lsn": (6, None)})
    assert len(skipped) < len(tbl.live_files())


def test_table_diff_surfaces_duplicate_keys(spark):
    """A replica carrying a merge key twice must show up in the diff
    summary, not fan out into plausible-looking totals (round-2 review
    finding on the row-level full-outer join)."""
    from radiant_portal_pipeline_spark.cdc.queries import table_diff

    a = spark.createDataFrame(
        [("c1", 0, "x", 1), ("c2", 0, "y", 2)],
        "conv_id string, turn_idx int, text string, lsn long",
    )
    b = spark.createDataFrame(
        # c1 duplicated: one row matches, one diverged; c2 matches
        [("c1", 0, "x", 1), ("c1", 0, "DIVERGED", 9), ("c2", 0, "y", 2)],
        "conv_id string, turn_idx int, text string, lsn long",
    )
    r = table_diff(a, b, keys=["conv_id", "turn_idx"], compare_cols=["text", "lsn"]).first()
    assert r["n_dup_keys_b"] == 1 and r["n_dup_keys_a"] == 0
    assert r["n_differing"] == 1  # c1 payload SETS differ (1 vs 2 rows)
    assert r["n_equal"] == 1 and r["n_only_a"] == 0 and r["n_only_b"] == 0


def test_rescale_buckets_preserves_state_and_exactly_once(spark, tmp_path, sf_smoke):
    """Bucket count is table identity — growing the cluster means a
    one-pass re-bucketing migration. The new table must hold identical
    live state (tombstones carried), identify with the new count, and
    REFUSE epochs the old table already applied (stream resume stays
    exactly-once across the cutover)."""
    feed = feed_from_events(spark, sf_smoke)
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t8"), num_buckets=8)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(feed, epoch=3)

    eng32 = eng.rescale(str(tmp_path / "t32"), new_buckets=32)
    assert eng32.num_buckets == 32
    assert eng32.table.snapshot().properties["num_buckets"] == 32
    old = sorted(map(tuple, eng.current_state().collect()))
    new = sorted(map(tuple, eng32.current_state().collect()))
    assert old == new
    # tombstones survived the migration (raw includes deleted keys)
    assert eng32.raw_state().filter("_deleted").count() == eng.raw_state().filter(
        "_deleted"
    ).count()
    # epoch guard carried: replaying an applied epoch is a no-op...
    assert eng32.merge_batch(feed, epoch=3).skipped
    # ...and new epochs still apply
    assert not eng32.merge_batch(feed.limit(10), epoch=4).skipped
    # physical layout really is 32-bucket now
    assert len(eng32.table.partitions()) > len(eng.table.partitions())


def test_rescale_aborts_if_source_advances_mid_migration(spark, tmp_path):
    """Epochs committed during the migration window must not be marked
    applied on the new table without their data — the rescale pins one
    snapshot and raises if the source advanced past it."""
    import pytest

    from radiant_portal_pipeline_spark.lake.table import ConcurrentModification

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a")]), epoch=0)

    orig_carry = type(tbl).carry_applied

    def racing_carry(self, applied):
        # a concurrent writer lands on the OLD table mid-migration
        eng.merge_batch(_batch(spark, [_ev("c2", 0, "U", 2, "b")]), epoch=1)
        return orig_carry(self, applied)

    import unittest.mock as mock

    with mock.patch.object(type(tbl), "carry_applied", racing_carry):
        with pytest.raises(ConcurrentModification, match="advanced"):
            eng.rescale(str(tmp_path / "t2"), new_buckets=8)


def test_rescale_abort_is_self_cleaning(spark, tmp_path):
    """On ConcurrentModification the half-built target table must be
    deleted (a retry re-copies from scratch), and a pre-existing target
    is refused up front."""
    import os

    import pytest
    import unittest.mock as mock

    from radiant_portal_pipeline_spark.lake.table import ConcurrentModification

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a")]), epoch=0)

    orig_carry = type(tbl).carry_applied

    def racing_carry(self, applied):
        eng.merge_batch(_batch(spark, [_ev("c2", 0, "U", 2, "b")]), epoch=1)
        return orig_carry(self, applied)

    target = str(tmp_path / "t2")
    with mock.patch.object(type(tbl), "carry_applied", racing_carry):
        with pytest.raises(ConcurrentModification, match="deleted"):
            eng.rescale(target, new_buckets=8)
    assert not os.path.exists(target), "abort left the stale target behind"

    # a retry against the SAME path now works (nothing stale in the way)
    eng2 = eng.rescale(target, new_buckets=8)
    assert eng2.current_state().count() == eng.current_state().count()

    # and an occupied path is refused with an actionable error
    with pytest.raises(ValueError, match="already exists"):
        eng.rescale(target, new_buckets=16)


def test_legacy_plans_execute_on_map_payload(spark):
    """The fallback topologies must be RUNNABLE on the schemas the
    fallback exists for: a map payload can't ride the max-struct
    (INVALID_ORDERING_TYPE), so via="no_argmax" must resolve to the
    window plan — a hard max_struct crashed exactly the batches the
    adaptive chooser routes to two_phase (round-3 review finding)."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.merge import (
        TranscriptMergeEngine,
        part_expr,
    )

    feed = (
        synthetic_feed(spark, 2000)
        .withColumn("attrs", F.create_map(F.lit("k"), F.col("role")))
        .withColumn(S.PART_COL, part_expr("conv_id", 16))
        .withColumn(S.DELETED_COL, F.col("op") == F.lit("D"))
        .drop("op", "commit_epoch")
    )
    eng = TranscriptMergeEngine.__new__(TranscriptMergeEngine)
    eng.num_buckets = 16
    eng.key_cols = ["conv_id", "turn_idx"]
    eng.lsn_col = "lsn"
    keys = [S.PART_COL, "conv_id", "turn_idx"]
    counts = {
        plan: TranscriptMergeEngine._dedup_and_layout(
            eng, feed, keys, ["lsn"], plan=plan
        ).count()
        for plan in ("two_phase", "single_exchange")
    }
    assert len(set(counts.values())) == 1 and counts["two_phase"] > 0, counts


def test_nested_map_detection(spark):
    """array<map<...>> and struct-wrapped maps are just as
    un-groupable/un-orderable as a top-level map — detection must
    recurse (round-3 review finding)."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.dedup import argmax_eligible

    base = _batch(spark, [_ev("c1", 0, "U", 5, "new"), _ev("c1", 0, "U", 3, "old")])
    nested = base.withColumn(
        "tags", F.array(F.create_map(F.lit("k"), F.lit("v")))
    )
    assert not argmax_eligible(nested, ["conv_id", "turn_idx"], ["lsn"])
    out = lww_dedup(nested, ["conv_id", "turn_idx"], ["lsn"])  # auto -> window
    assert out.count() == 1 and out.head()["lsn"] == 5

    wrapped = base.withColumn(
        "meta", F.struct(F.create_map(F.lit("k"), F.lit("v")).alias("m"))
    )
    assert not argmax_eligible(wrapped, ["conv_id", "turn_idx"], ["lsn"])
    assert lww_dedup(wrapped, ["conv_id", "turn_idx"], ["lsn"]).count() == 1


def test_append_only_reads_equal_deduped_merge(spark, tmp_path):
    """Write-path dedup elision (append_only) must be READ-equivalent
    to a folding merge: MoR read-side LWW resolves cross-batch updates,
    intra-batch duplicates, verbatim replays and deletes identically —
    the elision trades bounded storage until compact(), never results."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(
        spark, 20_000, n_convs=97, dup_frac=0.05
    ).localCheckpoint(eager=True)  # update-heavy + verbatim replays

    def replay(plan, name):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=8
        )
        eng = TranscriptMergeEngine(tbl, num_buckets=8, merge_plan=plan)
        for e in range(2):
            eng.merge_batch(
                feed.filter(F.col("commit_epoch") % 2 == e), epoch=e
            )
        return eng

    ao = replay("append_only", "ao")
    am = replay("argmax", "am")
    got = sorted(map(tuple, ao.current_state().collect()))
    assert got == sorted(map(tuple, am.current_state().collect()))
    assert len(got) > 0
    # the elided table holds MORE physical rows until compaction
    # (intra-batch losers + verbatim replays retained)...
    assert ao.table.read().count() > am.table.read().count()
    # ...and compact() folds BOTH to one row per key, regardless of the
    # engine's default plan
    ao.compact()
    am.compact()
    assert ao.table.read().count() == am.table.read().count()
    assert sorted(map(tuple, ao.current_state().collect())) == got


def test_append_only_rejected_for_cow(spark, tmp_path):
    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=4
    )
    with pytest.raises(ValueError, match="append_only"):
        TranscriptMergeEngine(tbl, mode="cow", merge_plan="append_only")


def test_append_only_lineage_counts_per_key(spark, tmp_path):
    """Lineage I/U/D counts are per KEY even when the write path
    elides dedup (append_only writes raw rows; the metrics fold a slim
    projection — round-3 review finding)."""
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(
        tbl, num_buckets=4, merge_plan="append_only", lineage=lineage
    )
    # key (c1,0): two update rows (a dup to fold); key (c2,0): update
    # then delete (must count ONLY as deleted); key (c3,0): one insert
    eng.merge_batch(
        _batch(
            spark,
            [
                _ev("c1", 0, "U", 1, "a"),
                _ev("c1", 0, "U", 2, "b"),
                _ev("c2", 0, "U", 3, "c"),
                _ev("c2", 0, "D", 4, "d"),
                _ev("c3", 0, "I", 5, "e"),
            ],
        ),
        epoch=0,
    )
    row = (
        lineage.read()
        .groupBy()
        .sum("rows_inserted", "rows_updated", "rows_deleted")
        .head()
    )
    ins, upd, dele = row[0], row[1], row[2]
    assert (ins, upd, dele) == (2, 0, 1), (ins, upd, dele)


def test_argmax_all_null_order_raises(spark):
    """A key whose rows are ALL NULL in the order column has no defined
    winner: the argmax plan must fail loudly (round-3 advice: max()
    ignores NULLs and the null-safe semi join would match every row,
    silently breaking one-row-per-key), while max_struct keeps its
    pick-one semantics for callers that opt into it."""
    rows = [
        _ev("c1", 0, "U", 1, "a"),
        _ev("c1", 0, "U", 2, "b"),
        _ev("c2", 0, "U", 7, "c"),
    ]
    # CHANGE_EVENT_SCHEMA declares lsn non-null; nullify inside the plan
    df = _batch(spark, rows).withColumn(
        "lsn",
        F.when(F.col("conv_id") != "c1", F.col("lsn")).cast("bigint"),
    )
    with pytest.raises(Exception, match="ALL-NULL"):
        lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"], via="argmax").collect()
    got = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"], via="max_struct")
    assert got.count() == 2  # one row per key, NULL-order key included


def test_cow_argmax_lsn_overflow_raises(spark, tmp_path):
    """The CoW ordering fold lsn*2+src_rank is only order-preserving
    below 2^62 — the contract is enforced in the plan, not assumed."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="cow", merge_plan="argmax")
    ok = _batch(spark, [_ev("c1", 0, "U", 10, "fine")])
    eng.merge_batch(ok, epoch=0)
    bad = _batch(spark, [_ev("c1", 0, "U", 1 << 62, "boom")])
    with pytest.raises(Exception, match="2\\^62"):
        eng.merge_batch(bad, epoch=1)


def _keyed_batch(spark, rows_per_key: dict[tuple[str, int], int], lsn0: int):
    rows, lsn = [], lsn0
    for (conv, turn), n in rows_per_key.items():
        for i in range(n):
            rows.append(_ev(conv, turn, "U", lsn, f"t-{lsn}"))
            lsn += 1
    return _batch(spark, rows)


def test_adaptive_never_elides_on_hot_key_duplicate_batches(spark, tmp_path):
    """Round-3 blind spot, closed: duplicate mass concentrated in a
    HANDFUL of keys was caught w.p. ~2%/batch by the key-hash sample,
    so such batches elided dedup on most batches. The full-coverage
    HLL estimator sees every key: a feed alternating hot-key-duplicate
    batches with insert batches must NEVER choose append_only on the
    duplicate batches (and still keeps the elision for the inserts)."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    eng = TranscriptMergeEngine(tbl, num_buckets=8, merge_plan="adaptive")
    lsn = 0
    for e in range(6):
        if e % 2 == 0:  # insert batch: every key exactly once
            batch = _keyed_batch(
                spark, {(f"c{e}-{i}", 0): 1 for i in range(2000)}, lsn
            )
        else:  # duplicate batch: 3 hot keys carry ~95% of the rows
            spec = {(f"hot-{j}", 0): 650 for j in range(3)}
            spec.update({(f"d{e}-{i}", 0): 1 for i in range(100)})
            batch = _keyed_batch(spark, spec, lsn)
        lsn += 10_000
        stats = eng.merge_batch(batch, epoch=e)
        if e % 2 == 0:
            assert stats.plan == "append_only", (e, stats.plan)
        else:
            assert stats.plan != "append_only", (e, stats.plan)


def test_argmax_broadcast_equals_shuffled_and_chooser_picks_it(spark, tmp_path):
    """The broadcast semi-join variant (zero full-row exchanges) must
    be result-identical to the shuffled argmax, and the adaptive
    chooser must resolve to it for an update-heavy batch whose key
    count fits the broadcast bound."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(spark, 20_000, n_convs=97, dup_frac=0.05).localCheckpoint(
        eager=True
    )

    def replay(plan, name):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=8
        )
        eng = TranscriptMergeEngine(tbl, num_buckets=8, merge_plan=plan)
        stats = []
        for e in range(2):
            stats.append(
                eng.merge_batch(feed.filter(F.col("commit_epoch") % 2 == e), epoch=e)
            )
        return eng, stats

    bc, _ = replay("argmax_broadcast", "bc")
    sh, _ = replay("argmax", "sh")
    ad, ad_stats = replay("adaptive", "ad")
    want = sorted(map(tuple, sh.current_state().collect()))
    assert sorted(map(tuple, bc.current_state().collect())) == want
    assert sorted(map(tuple, ad.current_state().collect())) == want
    # ~97 convs x 50 turns over 10k rows/batch -> heavy duplication,
    # small winners: the chooser must take the broadcast path
    assert all(s.plan == "argmax_broadcast" for s in ad_stats), [
        s.plan for s in ad_stats
    ]


def test_chooser_knobs_disable_elision(spark, tmp_path):
    """append_only_enabled=False must route insert-dominant batches to
    a folding plan (operators with few-hot-key feeds opt out without
    forking the chooser — round-3 advice)."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(
        tbl, num_buckets=4, merge_plan="adaptive", append_only_enabled=False
    )
    batch = _keyed_batch(spark, {(f"c{i}", 0): 1 for i in range(1000)}, 0)
    stats = eng.merge_batch(batch, epoch=0)
    assert stats.plan != "append_only"


def test_quarantine_dead_letters_instead_of_failing(spark, tmp_path):
    """With a quarantine table configured, contract-violating rows
    (NULL merge key / NULL lsn) are split out with a reason and the
    valid remainder merges; without one, the batch fails (the round-3
    in-plan guard). Exactly-once extends to the dead letters: replaying
    the batch quarantines nothing twice."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    q = TranscriptMergeEngine.create_quarantine_table(spark, str(tmp_path / "q"))
    eng = TranscriptMergeEngine(tbl, num_buckets=4, quarantine=q)
    batch = _batch(
        spark,
        [
            _ev("c1", 0, "U", 1, "good"),
            _ev("c2", 0, "U", 2, "bad-key"),
            _ev("c3", 0, "U", 3, "bad-lsn"),
            _ev("c4", 0, "U", 4, "also-good"),
        ],
    ).withColumn(
        "conv_id", F.when(F.col("text") != "bad-key", F.col("conv_id"))
    ).withColumn(
        "lsn", F.when(F.col("text") != "bad-lsn", F.col("lsn")).cast("bigint")
    )
    st = eng.merge_batch(batch, epoch=0)
    assert not st.skipped
    state = {r["conv_id"]: r["text"] for r in eng.current_state().collect()}
    assert state == {"c1": "good", "c4": "also-good"}
    dead = {(r["_reason"], r["text"]) for r in q.read().collect()}
    assert dead == {("null_merge_key", "bad-key"), ("null_lsn", "bad-lsn")}

    # replay: both tables untouched (no duplicate dead letters)
    st2 = eng.merge_batch(batch, epoch=0)
    assert st2.skipped
    assert q.read().count() == 2

    # without a quarantine table the same batch fails loudly
    tbl2 = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t2"), num_buckets=4
    )
    eng2 = TranscriptMergeEngine(tbl2, num_buckets=4)
    with pytest.raises(Exception, match="NULL"):
        eng2.merge_batch(batch, epoch=0)


def test_plan_stickiness_opt_in(spark, tmp_path):
    """estimate_every=N reuses a performance-only plan decision for
    N-1 batches (skipping the estimator job); append_only never sticks,
    and the default (1) estimates every batch."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, num_buckets=4, estimate_every=3)
    dup = {(f"k{i}", 0): 5 for i in range(200)}  # update-heavy
    lsn = 0
    reasons = []
    for e in range(4):
        batch = _keyed_batch(spark, dup, lsn)
        lsn += 10_000
        st = eng.merge_batch(batch, epoch=e)
        assert st.plan == "argmax_broadcast"
        reasons.append(st.plan)
    # lineage-free check: the sticky window resets after N batches —
    # probe the internal counter contract directly
    assert eng.estimate_every == 3 and eng._sticky_plan is not None

    # append_only never sticks: consecutive insert batches re-estimate
    # and keep eliding
    tbl3 = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t3"), num_buckets=4
    )
    eng3 = TranscriptMergeEngine(tbl3, num_buckets=4, estimate_every=2)
    ins = _keyed_batch(spark, {(f"i{i}", 0): 1 for i in range(1000)}, 0)
    st = eng3.merge_batch(ins, epoch=0)
    assert st.plan == "append_only"
    st = eng3.merge_batch(
        _keyed_batch(spark, {(f"j{i}", 0): 1 for i in range(1000)}, 50_000), epoch=1
    )
    assert st.plan == "append_only"  # re-validated, not stuck elsewhere


def test_sticky_plan_invalidated_by_batch_size_jump(spark, tmp_path):
    """The sticky guard (round-4 advisor): a reused argmax_broadcast
    decision must be re-estimated when the batch volume jumps
    materially (>2x), else a mid-window cardinality jump broadcasts an
    unbounded winners set. The guard runs only the cheap count, and a
    similar-sized batch still rides the sticky window."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(
        tbl, num_buckets=4, estimate_every=5, broadcast_max_winners=500
    )
    dup = {(f"k{i}", 0): 5 for i in range(200)}  # 1000 rows, 200 keys
    st = eng.merge_batch(_keyed_batch(spark, dup, 0), epoch=0)
    assert st.plan == "argmax_broadcast" and eng._sticky_plan is not None
    # similar size -> sticky window holds (no re-estimate)
    st = eng.merge_batch(_keyed_batch(spark, dup, 10_000), epoch=1)
    assert st.plan == "argmax_broadcast"
    assert eng._sticky_left == 3  # consumed one sticky slot
    # 10x the rows AND 10x the keys: over broadcast_max_winners. The
    # guard must invalidate stickiness and the fresh estimate must
    # choose the shuffled argmax, NOT replay the broadcast decision.
    big = {(f"b{i}", 0): 5 for i in range(2000)}  # 10k rows, 2000 keys
    st = eng.merge_batch(_keyed_batch(spark, big, 20_000), epoch=2)
    assert st.plan == "argmax"


def test_hot_split_equals_folding_plans_and_chooser_picks_it(spark, tmp_path):
    """hot_split (round-5): dedup only the heavy conversations, append
    the unique tail raw. Must be READ-equivalent to the shuffled argmax
    on a concentrated-duplicates insert-shape feed (hot conv + mostly
    unique tail, verbatim replays included), and the adaptive chooser
    must pick it when winners exceed the broadcast bound but the dup
    mass is concentrated."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    # 40k events, 12k convs -> ~32k distinct keys; hot conv takes 20%;
    # dup_frac adds verbatim replays on both sides of the split
    feed = synthetic_feed(
        spark, 40_000, n_convs=12_007, dup_frac=0.03, hot_every=5
    ).localCheckpoint(eager=True)

    def replay(plan, name, **kw):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=8
        )
        eng = TranscriptMergeEngine(tbl, num_buckets=8, merge_plan=plan, **kw)
        stats = []
        for e in range(2):
            stats.append(
                eng.merge_batch(feed.filter(F.col("commit_epoch") % 2 == e), epoch=e)
            )
        return eng, stats

    hs, hs_stats = replay("hot_split", "hs")
    am, _ = replay("argmax", "am")
    want = sorted(map(tuple, am.current_state().collect()))
    got = sorted(map(tuple, hs.current_state().collect()))
    assert got == want and len(got) > 0
    # the heavy conversation was deduped at write time: the physical
    # hot-conv rows are bounded by its key count, not its event count
    hot_rows = hs.table.read().filter(F.col("conv_id") == "conv-hot").count()
    assert hot_rows <= 2 * 200  # 200 hot keys x 2 batches

    # adaptive chooser: winners bound forced below the key count and
    # dup mass concentrated in conv-hot -> hot_split
    ad, ad_stats = replay(
        "adaptive", "ad", broadcast_max_winners=5_000,
        dup_share_threshold=0.01,
    )
    assert sorted(map(tuple, ad.current_state().collect())) == want
    assert all(s.plan == "hot_split" for s in ad_stats), [
        s.plan for s in ad_stats
    ]

    # compaction folds the raw tail: post-compact physical rows equal
    # the folding plan's post-compact rows
    hs.compact()
    am.compact()
    assert hs.table.read().count() == am.table.read().count()
    assert sorted(map(tuple, hs.current_state().collect())) == want


def test_hot_split_spread_duplicates_fall_back_to_argmax(spark, tmp_path):
    """Duplicates spread across MANY conversations (no concentration):
    the probe must find no heavy conversations and the chooser must
    fall back to the shuffled argmax, never hot_split."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    # hot_every=0 -> no hot conversation; 400 convs x 50 turns over
    # 40k events -> every key ~2 events: dup mass 50%, fully spread
    feed = synthetic_feed(
        spark, 40_000, n_convs=397, hot_every=1_000_000_000
    ).localCheckpoint(eager=True)
    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=8
    )
    eng = TranscriptMergeEngine(
        tbl, num_buckets=8, merge_plan="adaptive", broadcast_max_winners=1_000
    )
    st = eng.merge_batch(feed, epoch=0)
    assert st.plan == "argmax", st.plan


def test_hot_split_never_broadcasts_unique_key_mega_conv(spark, tmp_path):
    """Round-5 review finding #1: a mega-conversation backfill of
    UNIQUE keys concentrates rows but not duplicates — its 'winners'
    are its entire row set, so flagging it hot would broadcast past
    broadcast_max_winners (OOM class). The probe must require
    duplicate evidence (sampled rows >> sampled keys) and must respect
    the winners bound; this batch falls back to shuffled argmax."""
    from radiant_portal_pipeline_spark.cdc import schemas as S

    # one conversation, 30k rows, every (conv, turn) key unique, plus a
    # sprinkle of genuine duplicates elsewhere so total_dups > 0
    mega = [("conv-mega", i, "user", f"m{i}", None, None, "U", i, 0)
            for i in range(30_000)]
    dups = [(f"c{i % 50}", 0, "user", f"d{i}", None, None, "U", 30_000 + i, 0)
            for i in range(2_000)]
    batch = spark.createDataFrame(mega + dups, S.CHANGE_EVENT_SCHEMA)
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    eng = TranscriptMergeEngine(
        tbl, num_buckets=8, merge_plan="adaptive", broadcast_max_winners=5_000,
        dup_share_threshold=0.01,
    )
    st = eng.merge_batch(batch, epoch=0)
    assert st.plan == "argmax", st.plan  # NOT hot_split, NOT broadcast


def test_hot_split_lineage_counts_are_per_key(spark, tmp_path):
    """Round-5 review: hot_split writes a raw tail, so lineage I/U/D
    counts must come from the folded slim projection (same contract as
    append_only) — a tail key updated twice in the batch counts once."""
    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    # hot conv: 2000 rows on 10 keys; tail: 400 keys, each key TWICE
    rows = [("conv-hot", i % 10, "user", f"h{i}", None, None, "U", i, 0)
            for i in range(2_000)]
    rows += [(f"c{i % 400}", 99, "user", f"t{i}", None, None, "U", 2_000 + i, 0)
             for i in range(800)]
    batch = spark.createDataFrame(rows, S.CHANGE_EVENT_SCHEMA)
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(
        tbl, num_buckets=4, merge_plan="hot_split", lineage=lineage,
    )
    st = eng.merge_batch(batch, epoch=0)
    assert st.plan == "hot_split"
    rec = lineage.read().agg(
        F.sum("rows_inserted").alias("ins"),
        F.sum("rows_updated").alias("upd"),
        F.sum("rows_deleted").alias("del_"),
    ).head()
    # per-KEY counts: 10 hot keys + 400 tail keys, all inserts into an
    # empty table
    assert rec["ins"] == 410, rec
    assert (rec["upd"] or 0) == 0 and (rec["del_"] or 0) == 0, rec


def test_hot_split_sticky_reuses_conv_list_and_stays_correct(spark, tmp_path):
    """Sticky hot_split (estimate_every>1) replays both the plan AND
    the probed conversation list; results must stay equal to a fresh
    per-batch estimate (stale heavy lists are correct-by-construction:
    unlisted heavy convs just append raw under MoR)."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(
        spark, 40_000, n_convs=12_007, dup_frac=0.03, hot_every=5
    ).localCheckpoint(eager=True)

    def replay(name, **kw):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=8
        )
        eng = TranscriptMergeEngine(
            tbl, num_buckets=8, merge_plan="adaptive",
            broadcast_max_winners=15_000, dup_share_threshold=0.01, **kw
        )
        stats = []
        for e in range(2):
            stats.append(
                eng.merge_batch(feed.filter(F.col("commit_epoch") % 2 == e), epoch=e)
            )
        return eng, stats

    fresh, fresh_stats = replay("fresh")
    sticky, sticky_stats = replay("sticky", estimate_every=4)
    assert all(s.plan == "hot_split" for s in fresh_stats + sticky_stats), (
        [s.plan for s in fresh_stats + sticky_stats]
    )
    want = sorted(map(tuple, fresh.current_state().collect()))
    assert sorted(map(tuple, sticky.current_state().collect())) == want
    assert len(want) > 0


def test_source_bucketed_elides_layout_exchange_and_stays_equal(spark, tmp_path):
    """A feed KEYED BY CONVERSATION (Kafka-style): declaring
    source_bucketed=True elides the layout repartition. Results must
    equal the default path for every elision-eligible plan, files stay
    one-per-bucket when the declaration is true, and a FALSE
    declaration degrades to small files, never wrong data."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.merge import part_expr

    feed = synthetic_feed(spark, 30_000, n_convs=97, dup_frac=0.05)
    # model the keyed source: partitions clustered by the bucket hash
    keyed = feed.repartition(8, part_expr("conv_id", 8)).localCheckpoint(
        eager=True
    )

    def replay(plan, name, source_bucketed, batch):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=8
        )
        eng = TranscriptMergeEngine(tbl, num_buckets=8, merge_plan=plan)
        eng.merge_batch(batch, epoch=0, source_bucketed=source_bucketed)
        return eng

    base = replay("argmax_broadcast", "base", False, keyed)
    want = sorted(map(tuple, base.current_state().collect()))
    # hot_split included: its bespoke bucketed branch (winners-side
    # repartition + raw-tail union) must also be clustering-preserving
    # and result-equal (round-5 review #4). The 20%-hot feed triggers
    # the static probe (conv-hot carries ~6k of 30k rows).
    for plan in ("argmax_broadcast", "append_only", "hot_split"):
        eng = replay(plan, f"sb_{plan}", True, keyed)
        assert sorted(map(tuple, eng.current_state().collect())) == want
        files = eng.table.snapshot().files
        assert max(len(fs) for fs in files.values()) <= 2, {
            p: len(fs) for p, fs in files.items()
        }

    # FALSE declaration (unclustered batch): data still correct
    lying = replay("append_only", "lying", True, feed.localCheckpoint(eager=True))
    assert sorted(map(tuple, lying.current_state().collect())) == want

    # CoW refuses the declaration
    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "cow"), num_buckets=8
    )
    eng = TranscriptMergeEngine(tbl, num_buckets=8, mode="cow")
    import pytest as _pt

    with _pt.raises(ValueError, match="MoR"):
        eng.merge_batch(keyed, epoch=0, source_bucketed=True)


def test_compact_broadcast_upgrade_gated_by_fold_size(spark, tmp_path):
    """compact() runs the broadcast-upgrade estimator only when the
    manifest-recorded fold size clears compact_broadcast_min_bytes:
    tiny folds keep the estimator-free shuffled plan (the extra job
    measurably loses there), large update-shaped folds get the
    broadcast semi join. Results are identical either way."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(spark, 20_000, n_convs=97)

    def build(name, min_bytes):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=4
        )
        eng = TranscriptMergeEngine(
            tbl, num_buckets=4, compact_broadcast_min_bytes=min_bytes
        )
        eng.merge_batch(feed, epoch=0)
        calls = []
        orig = eng._estimate_batch
        eng._estimate_batch = lambda df: (calls.append(1), orig(df))[1]
        eng.compact()
        return eng, len(calls)

    small_gate, n_small = build("small", 1 << 40)  # gate far above fold size
    big_gate, n_big = build("big", 0)  # gate at zero: always estimate
    assert n_small == 0, "sub-threshold fold must skip the estimator"
    assert n_big == 1, "cleared threshold must run the estimator once"
    a = sorted(map(tuple, small_gate.current_state().collect()))
    b = sorted(map(tuple, big_gate.current_state().collect()))
    assert a == b and a, "plan choice must never change the folded state"


def _conflict_table(spark, path, batches):
    tbl = TranscriptMergeEngine.create_table(spark, path, num_buckets=4)
    eng = TranscriptMergeEngine(tbl, num_buckets=4)
    for epoch, rows in enumerate(batches):
        eng.merge_batch(_batch(spark, rows), epoch=epoch)
    return eng


def test_equal_lsn_conflicts_resolve_to_one_defined_row(spark, tmp_path):
    """Conflicting payloads at an equal lsn are a contract violation
    upstream, but MoR reads and compaction still give them a defined
    outcome: the tombstone wins, then the fixed payload order — one row
    per key, the same row whatever the file or commit order."""
    a = [_ev("c1", 0, "U", 5, "aaa"), _ev("c2", 0, "U", 7, "live"), _ev("c3", 0, "I", 1, "x")]
    b = [_ev("c1", 0, "U", 5, "bbb"), _ev("c2", 0, "D", 7, "live")]
    orders = {
        "ab": [a, b],  # two commits, one order
        "ba": [b, a],  # the other commit order
        "one": [a + b],  # both conflicting rows in the same file
    }
    engines = {k: _conflict_table(spark, str(tmp_path / k), v) for k, v in orders.items()}

    def rows(df):
        return sorted(map(tuple, df.drop("part").collect()))

    def one_per_key(got):
        keys = [(r[0], r[1]) for r in got]
        assert len(keys) == len(set(keys)), got

    views = {
        "changes_since": lambda e: rows(e.changes_since(0)),
        "current_state": lambda e: rows(e.current_state()),
        "raw_state": lambda e: rows(e.raw_state()),
    }
    for name, view in views.items():
        got = {k: view(e) for k, e in engines.items()}
        one_per_key(got["ab"])
        assert got["ab"] == got["ba"] == got["one"], (name, got)
    live = {(r["conv_id"], r["turn_idx"]): r["text"] for r in engines["ab"].current_state().collect()}
    assert live == {("c1", 0): "bbb", ("c3", 0): "x"}  # tombstone first, then text desc

    compacted = {}
    for k, e in engines.items():
        e.compact()
        compacted[k] = rows(e.table.read())  # the folded files, no read-side LWW
        one_per_key(compacted[k])
    assert compacted["ab"] == compacted["ba"] == compacted["one"], compacted
    assert rows(engines["ab"].raw_state()) == compacted["ab"]


def test_window_reads_equal_argmax_on_uncompacted_table(spark, tmp_path):
    """The MoR reads (top-1 window) and compact() return exactly what the
    write path's argmax LWW returns over the same uncompacted table: six
    versions per key in six files, in-batch and cross-batch verbatim
    redeliveries, and tombstones that later versions revive."""
    from radiant_portal_pipeline_spark.cdc import schemas as S

    keys = ["conv_id", "turn_idx"]
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, num_buckets=4)

    def version(v):
        k = F.col("id")
        return spark.range(240).select(
            F.concat(F.lit("c"), (k % 24).cast("string")).alias("conv_id"),
            (k / 24).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit(f"v{v}-"), k.cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(TS).cast("timestamp_ntz").alias("ts"),
            F.when((k + v) % 5 == 0, "D").otherwise("U").alias("op"),
            (F.lit(v * 1000) + k).cast("long").alias("lsn"),
            F.lit(v).cast("long").alias("commit_epoch"),
        )

    batches = [version(v) for v in range(6)]
    batches[1] = batches[1].unionAll(batches[1].filter(F.col("lsn") % 3 == 0))
    batches.append(batches[3])  # verbatim redelivery under a new epoch
    for epoch, b in enumerate(batches):
        eng.merge_batch(b, epoch=epoch)
    assert all(len(fs) >= 6 for fs in tbl.snapshot().files.values())

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def argmax(df):
        return lww_dedup(df, keys, [S.LSN_COL], via="argmax").select(*df.columns)

    raw = argmax(tbl.read())
    assert rows(eng.raw_state()) == rows(raw)
    live = raw.filter(~F.col(S.DELETED_COL)).drop(S.DELETED_COL, S.PART_COL)
    assert rows(eng.current_state()) == rows(live)
    for wm in (-1, 2_500, 5_100):
        want = argmax(tbl.read().filter(F.col(S.LSN_COL) > wm))
        assert rows(eng.changes_since(wm)) == rows(want), wm
    want = rows(raw)
    eng.compact()
    assert rows(tbl.read()) == want
