"""Change data feed over the zonemap layout (``zonemap_changes`` —
the Delta CDF / Iceberg changelog-scan shape): row-level inserts and
deletes per commit, reconstructed change-scoped from the layout's own
history (append dirs, rewrite diffs, MOR delete files), with the
algebraic invariant scan(from) ⊎ inserts − deletes == scan(to)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import reair_spark.sources as S


def _mk(spark, lo, hi, v=None):
    out = spark.range(lo, hi).select(
        F.col("id"), F.pmod("id", F.lit(4)).cast("long").alias("b"),
        (F.lit(v).cast("long") if v is not None
         else F.col("id") * 2).alias("v"),
    )
    return out


@pytest.fixture()
def history(spark, tmp_path):
    """ingest 0: write ids 0..99; 1: append 100..149; 2: MOR delete
    ids 20..29; 3: merge (update ids 0..4 to v=-1, insert 500..501);
    4: COW delete ids 50..59."""
    loc = str(tmp_path / "t")
    S.write_zonemapped(_mk(spark, 0, 100), loc, "b", ["id", "v"])
    S.append_zonemapped(_mk(spark, 100, 150), loc, "b", ["id", "v"],
                        ingest_id=1)
    S.zonemap_delete(spark, loc, predicates=[("v", 40, 59)], mode="mor")
    upd = _mk(spark, 0, 5, v=-1).unionByName(_mk(spark, 500, 502, v=-2))
    S.zonemap_merge(spark, loc, upd, key_cols=["id"])
    S.zonemap_delete(spark, loc, predicates=[("v", 100, 119)])
    return loc


def test_change_feed_per_commit_counts(spark, history):
    ch, stats = S.zonemap_changes(spark, history, from_ingest=0)
    assert stats["commit_ingests"] == [1, 2, 3, 4]
    got = {(r["_commit_ingest"], r["_change_type"]): r["count"]
           for r in ch.groupBy("_commit_ingest", "_change_type")
           .count().collect()}
    assert got == {
        (1, "insert"): 50,   # the append
        (2, "delete"): 10,   # MOR delete ids 20..29
        (3, "insert"): 7,    # merge: 5 updated versions + 2 new keys
        (3, "delete"): 5,    # merge: 5 old versions out
        (4, "delete"): 10,   # COW delete ids 50..59
    }
    # updates read as delete+insert under ONE commit, same key
    m = ch.where("_commit_ingest = 3")
    assert m.where("_change_type = 'insert' and v = -1").count() == 5
    assert m.where("_change_type = 'delete'").join(
        m.where("_change_type = 'insert'"), "id").count() == 5


def test_change_feed_reconstructs_snapshots(spark, history):
    ch, _ = S.zonemap_changes(spark, history, from_ingest=1,
                              to_ingest=3)
    base, _ = S.zonemap_scan(spark, history, max_ingest=1)
    base = base.drop("ingest")
    cols = base.columns
    ins = ch.where("_change_type = 'insert'").select(*cols)
    dels = ch.where("_change_type = 'delete'").select(*cols)
    rebuilt = base.unionByName(ins).exceptAll(dels)
    target, _ = S.zonemap_scan(spark, history, max_ingest=3)
    target = target.drop("ingest").select(*cols)
    assert rebuilt.exceptAll(target).count() == 0
    assert target.exceptAll(rebuilt).count() == 0


def test_apply_change_rows_insert_then_delete(spark, tmp_path):
    """A row inserted and then deleted inside one feed stays deleted:
    the apply adds the inserts before it subtracts the deletes
    (subtracting first brought ids 100..109 back)."""
    from reair_spark.engine_queries import apply_change_rows

    loc = str(tmp_path / "t")
    S.write_zonemapped(_mk(spark, 0, 100), loc, "b", ["id", "v"])
    S.append_zonemapped(_mk(spark, 100, 150), loc, "b", ["id", "v"],
                        ingest_id=1)
    S.zonemap_delete(spark, loc, predicates=[("v", 200, 219)], mode="mor")
    ch, _ = S.zonemap_changes(spark, loc, from_ingest=0)
    cols = ["id", "b", "v"]
    ins = ch.where("_change_type = 'insert'").select(*cols)
    dels = ch.where("_change_type = 'delete'").select(*cols)
    assert sorted(r.id for r in ins.intersect(dels).collect()) == list(
        range(100, 110))
    base, _ = S.zonemap_scan(spark, loc, max_ingest=0)
    got = apply_change_rows(base, ch, cols)
    target, _ = S.zonemap_scan(spark, loc)
    target = target.select(*cols)
    assert got.count() == 140
    assert got.exceptAll(target).count() == 0
    assert target.exceptAll(got).count() == 0


def test_change_feed_bounded_range_and_empty(spark, history):
    ch, st = S.zonemap_changes(spark, history, from_ingest=1,
                               to_ingest=2)
    assert st["commit_ingests"] == [2]
    assert ch.count() == 10
    assert ch.where("_change_type = 'delete'").count() == 10
    empty, st0 = S.zonemap_changes(spark, history, from_ingest=4)
    assert st0["n_commits"] == 0 and empty.count() == 0
    # empty feed keeps the full schema
    assert "_change_type" in empty.columns
    assert "v" in empty.columns


def test_change_feed_refused_below_horizons(spark, history):
    S.zonemap_rewrite_manifests(spark, history)
    with pytest.raises(ValueError, match="expired"):
        S.zonemap_changes(spark, history, from_ingest=0)
    # at or above the fold horizon the feed still answers (no commits
    # above it yet: empty)
    ch, st = S.zonemap_changes(spark, history, from_ingest=4)
    assert st["n_commits"] == 0 and ch.count() == 0
    S.append_zonemapped(_mk(spark, 600, 610), history, "b", ["id", "v"],
                        ingest_id=S._next_ingest_id(history))
    ch2, st2 = S.zonemap_changes(spark, history, from_ingest=4)
    assert st2["n_commits"] == 1 and ch2.count() == 10


def test_change_feed_after_compact_only_new_commits(spark, tmp_path):
    loc = str(tmp_path / "t")
    S.write_zonemapped(_mk(spark, 0, 50), loc, "b", ["id", "v"])
    S.zonemap_delete(spark, loc, predicates=[("v", 0, 19)], mode="mor")
    S.zonemap_compact(spark, loc)
    floor = int(S._read_layout_meta(loc)["compacted_through"])
    with pytest.raises(ValueError, match="expired"):
        S.zonemap_changes(spark, loc, from_ingest=0)
    nid = S._next_ingest_id(loc)
    S.append_zonemapped(_mk(spark, 100, 120), loc, "b", ["id", "v"],
                        ingest_id=nid)
    ch, st = S.zonemap_changes(spark, loc, from_ingest=floor)
    assert st["commit_ingests"] == [nid]
    assert ch.count() == 20
    assert ch.where("_change_type = 'insert'").count() == 20


def test_change_feed_overwrite_reads_as_full_diff(spark, tmp_path):
    loc = str(tmp_path / "t")
    S.write_zonemapped(_mk(spark, 0, 40), loc, "b", ["id", "v"])
    res = S.zonemap_overwrite(spark, loc, _mk(spark, 20, 60))
    ch, _ = S.zonemap_changes(spark, loc, from_ingest=0)
    got = {r["_change_type"]: r["count"]
           for r in ch.groupBy("_change_type").count().collect()}
    # rows 0..19 left, rows 40..59 arrived, rows 20..39 unchanged —
    # the multiset diff reports only true changes, not the rewrite
    assert got == {"delete": 20, "insert": 20}
    assert ch.where("_change_type = 'delete' and id >= 20").count() == 0
