"""Optimistic concurrency for layout commits (VERDICT r11 ask #2):
exclusive-create ingest-id claims, the descriptor version-file CAS,
and commit validation with loser-recompute-retry — so two concurrent
writers both land, with no id collision and no lost delta or lost
descriptor update."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import reair_spark.sources as S
from reair_spark.fs import (
    FailingFs,
    LocalFs,
    MemFs,
    RetryingFs,
    register_fs,
    unregister_fs,
)
from reair_spark.io import rows_df


def _base_layout(spark, loc):
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("b"),
        F.col("id").alias("v"),
    )
    S.write_zonemapped(df, loc, "b", ["v"])


# ---------------------------------------------------------------------
# fs seam primitive
# ---------------------------------------------------------------------

def test_create_exclusive_backends(tmp_path):
    fs = LocalFs()
    p = str(tmp_path / "claim")
    fh = fs.create_exclusive(p)
    fh.write(b"x")
    fh.close()
    with pytest.raises(FileExistsError):
        fs.create_exclusive(p)

    mem = MemFs("m1")
    fh = mem.create_exclusive("m1://a/claim")
    fh.close()
    with pytest.raises(FileExistsError):
        mem.create_exclusive("m1://a/claim")

    # the collision is a PROTOCOL signal: RetryingFs must surface it
    # immediately, never retry it away
    r = RetryingFs(fs, attempts=3, backoff_s=0)
    with pytest.raises(FileExistsError):
        r.create_exclusive(p)


def test_create_exclusive_with_content_backends(tmp_path):
    """Never-empty claims (ADVICE r12 #3): the atomic publish lands
    content and visibility in one step, collides like
    create_exclusive, and leaves no staging debris."""
    fs = LocalFs()
    p = str(tmp_path / "xc")
    fs.create_exclusive_with_content(p, b"payload")
    with open(p, "rb") as fh:
        assert fh.read() == b"payload"
    with pytest.raises(FileExistsError):
        fs.create_exclusive_with_content(p, b"other")
    with open(p, "rb") as fh:
        assert fh.read() == b"payload"  # loser never clobbers
    assert os.listdir(tmp_path) == ["xc"]  # tmp staging cleaned up

    mem = MemFs("m2")
    mem.create_exclusive_with_content("m2://a/xc", b"payload")
    with mem.open_read("m2://a/xc") as fh:
        assert fh.read() == b"payload"
    with pytest.raises(FileExistsError):
        mem.create_exclusive_with_content("m2://a/xc", b"other")

    r = RetryingFs(fs, attempts=3, backoff_s=0)
    with pytest.raises(FileExistsError):
        r.create_exclusive_with_content(p, b"other")

    # ambiguous transient: the publish LANDED but reported an error —
    # RetryingFs verifies content instead of blind-retrying into a
    # self-collision misreported as a lost race
    class Flaky(LocalFs):
        def create_exclusive_with_content(self, path, data):
            super().create_exclusive_with_content(path, data)
            raise OSError("transient after landing")

    rf = RetryingFs(Flaky(), attempts=3, backoff_s=0)
    rf.create_exclusive_with_content(str(tmp_path / "amb"), b"mine")
    with open(tmp_path / "amb", "rb") as fh:
        assert fh.read() == b"mine"


# ---------------------------------------------------------------------
# ingest-id claims
# ---------------------------------------------------------------------

def test_claims_are_exclusive_and_swept_when_consumed(spark, tmp_path):
    loc = str(tmp_path / "cl")
    _base_layout(spark, loc)
    a = S._claim_ingest_id(loc)
    b = S._claim_ingest_id(loc)
    assert a == 1 and b == 2  # no collision: the loser probes upward
    assert sorted(os.listdir(f"{loc}/_staging/claims")) == [
        "ingest-1", "ingest-2",
    ]
    # publish a delta for claim 1; recovery sweeps the consumed claim
    # but keeps the pending one (its id stays reserved)
    S.append_zonemapped(
        spark.range(40, 50).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("b"),
            F.col("id").alias("v"),
        ),
        loc, "b", ["v"], ingest_id=a,
    )
    S._recover_layout(loc)
    assert sorted(os.listdir(f"{loc}/_staging/claims")) == ["ingest-2"]
    assert S._claim_ingest_id(loc) == 3  # reserved id never reissued


# ---------------------------------------------------------------------
# interleaved writers: merge vs append (the verdict's done-criterion)
# ---------------------------------------------------------------------

def test_interleaved_merge_and_append_both_land(
    spark, tmp_path, monkeypatch
):
    """Writer B (append of NEW keys into bucket 1) commits in the
    window between writer A's merge PLANNING and its claim. Without
    commit validation A's replacing rewrite — computed before B's
    rows existed — would supersede B's delta and silently DROP its
    rows. With it, A detects the landed delta, recomputes from fresh
    state, and both commits survive with distinct ingest ids."""
    loc = str(tmp_path / "race")
    _base_layout(spark, loc)

    b_rows = spark.range(100, 104).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    state = {"fired": False}
    real_claim = S._claim_ingest_id

    def claim_with_concurrent_append(location):
        if not state["fired"]:
            state["fired"] = True
            # writer B commits first — claims its own id, publishes
            bid = real_claim(location)
            S.append_zonemapped(b_rows, loc, "b", ["v"], ingest_id=bid)
        return real_claim(location)

    monkeypatch.setattr(S, "_claim_ingest_id", claim_with_concurrent_append)
    res = S.zonemap_merge(
        spark, loc,
        spark.range(1).select(
            F.lit(5).cast("long").alias("k"),
            F.lit(1).cast("long").alias("b"),
            F.lit(7777).cast("long").alias("v"),
        ),
        key_cols=["k"],
    )
    monkeypatch.setattr(S, "_claim_ingest_id", real_claim)

    # no id collision, B's delta not lost
    ids = sorted(
        int(p.split("=")[1]) for p in os.listdir(f"{loc}/manifest")
    )
    assert len(ids) == len(set(ids))
    assert res["ingest_id"] not in (0, 1)

    df, _ = S.zonemap_scan(spark, loc)
    got = {r.k: r.v for r in df.collect()}
    assert got[5] == 7777                       # A's merge applied
    assert all(got[k] == k for k in (100, 101, 102, 103))  # B's rows
    assert len(got) == 44


def test_interleaved_delete_recomputes(spark, tmp_path, monkeypatch):
    """Same window for DELETE: an append lands mid-plan; the delete
    recomputes so the appended rows are judged by the predicate too,
    not silently superseded."""
    loc = str(tmp_path / "racedel")
    _base_layout(spark, loc)
    state = {"fired": False}
    real_claim = S._claim_ingest_id

    def claim_with_concurrent_append(location):
        if not state["fired"]:
            state["fired"] = True
            bid = real_claim(location)
            S.append_zonemapped(
                spark.range(200, 202).select(
                    F.col("id").alias("k"),
                    F.lit(1).cast("long").alias("b"),
                    F.lit(5).cast("long").alias("v"),  # matches delete
                ),
                loc, "b", ["v"], ingest_id=bid,
            )
        return real_claim(location)

    monkeypatch.setattr(S, "_claim_ingest_id", claim_with_concurrent_append)
    res = S.zonemap_delete(spark, loc, predicates=[("v", 5, 5)])
    monkeypatch.setattr(S, "_claim_ingest_id", real_claim)

    assert res["n_rows_deleted"] == 3  # original k=5 + the two appended
    df, _ = S.zonemap_scan(spark, loc)
    assert df.where("v = 5").count() == 0
    assert df.count() == 39


def _rows(spark, ks, b, v=None):
    """(k, b, v) rows of one bucket; ``v`` defaults to the key."""
    return rows_df(spark, [(k, b, k if v is None else v) for k in ks],
                   "k long, b long, v long")


def _race_append(monkeypatch, loc, rows):
    """Patch the id claim so an append of ``rows`` commits once, in the
    window between a mutator's planning and its own claim."""
    state = {"fired": False}
    real_claim = S._claim_ingest_id

    def claim_with_concurrent_append(location):
        if not state["fired"]:
            state["fired"] = True
            S.append_zonemapped(rows, loc, "b", ["v"],
                                ingest_id=real_claim(location))
        return real_claim(location)

    monkeypatch.setattr(S, "_claim_ingest_id", claim_with_concurrent_append)


def test_interleaved_delete_replans_affected_buckets(
    spark, tmp_path, monkeypatch
):
    """The matching rows land in bucket 2, which held no ``v = 5`` row
    when the delete first planned: the retry must re-plan the affected
    bucket set, not only re-read the buckets planned before the race
    (which left both appended rows alive and counted 1 deletion)."""
    loc = str(tmp_path / "racedel2")
    _base_layout(spark, loc)
    _race_append(monkeypatch, loc, _rows(spark, [200, 201], 2, v=5))
    res = S.zonemap_delete(spark, loc, predicates=[("v", 5, 5)])
    monkeypatch.undo()

    assert res["n_rows_deleted"] == 3
    df, _ = S.zonemap_scan(spark, loc)
    vs = [r.v for r in df.select("v").collect()]
    assert 5 not in vs and len(vs) == 39


def test_interleaved_upsert_keys_win(spark, tmp_path, monkeypatch):
    """An append of an older version of key 5 (and a new key 100)
    commits mid-upsert: the upsert validates, re-claims ABOVE it, and
    its equality mask supersedes the appended version."""
    loc = str(tmp_path / "raceups")
    _base_layout(spark, loc)
    _race_append(monkeypatch, loc, _rows(spark, [5, 100], 1, v=-1))
    res = S.zonemap_upsert_mor(spark, loc, _rows(spark, [5], 1, v=7777),
                               key_cols=["k"])
    monkeypatch.undo()

    df, _ = S.zonemap_scan(spark, loc)
    got = [(r.k, r.v) for r in df.collect()]
    assert [v for k, v in got if k == 5] == [7777]   # the upsert wins
    assert (100, -1) in got                         # the append lands
    assert len(got) == 41
    assert res["n_keys_masked"] == 1


def test_interleaved_delete_by_key_masks_appended_rows(
    spark, tmp_path, monkeypatch
):
    """Rows of a deleted key appended mid-delete are masked too: the
    delete commits above the append, so its mask covers every prior
    version of the key."""
    loc = str(tmp_path / "racedbk")
    _base_layout(spark, loc)
    _race_append(monkeypatch, loc, _rows(spark, [7, 300], 3))
    res = S.zonemap_delete_by_key(
        spark, loc, rows_df(spark, [(7, 3)], "k long, b long"),
        key_cols=["k"],
    )
    monkeypatch.undo()

    df, _ = S.zonemap_scan(spark, loc)
    keys = [r.k for r in df.collect()]
    assert 7 not in keys
    assert 300 in keys and len(keys) == 40
    assert res["n_keys_deleted"] == 1


def test_interleaved_overwrite_tombstones_appended_bucket(
    spark, tmp_path, monkeypatch
):
    """A bucket created by an append that commits mid-overwrite is
    absent from the new snapshot: the overwrite re-plans its tombstone
    set from the layout as it is at commit time."""
    loc = str(tmp_path / "raceow")
    _base_layout(spark, loc)
    _race_append(monkeypatch, loc, _rows(spark, [900, 901], 9))
    res = S.zonemap_overwrite(
        spark, loc, _rows(spark, [0, 1, 4, 5], 0)
    )
    monkeypatch.undo()

    df, _ = S.zonemap_scan(spark, loc)
    assert sorted(r.k for r in df.collect()) == [0, 1, 4, 5]
    assert res["n_buckets_tombstoned"] == 4  # buckets 1, 2, 3 and 9


def test_interleaved_replace_keeps_unlisted_bucket(
    spark, tmp_path, monkeypatch
):
    """An append mid-replace into a listed bucket (1) and an unlisted
    new one (9): the replace supersedes the listed bucket's rows,
    appended ones included, and leaves the unlisted bucket alone."""
    loc = str(tmp_path / "racerb")
    _base_layout(spark, loc)
    _race_append(monkeypatch, loc, _rows(spark, [500], 1)
                 .unionByName(_rows(spark, [901], 9)))
    S.zonemap_replace_buckets(spark, loc, _rows(spark, [1001], 1), [1])
    monkeypatch.undo()

    df, _ = S.zonemap_scan(spark, loc)
    by_bucket = {}
    for r in df.collect():
        by_bucket.setdefault(r.b, set()).add(r.k)
    assert by_bucket[1] == {1001}
    assert by_bucket[9] == {901}
    assert sum(len(v) for v in by_bucket.values()) == 32


# ---------------------------------------------------------------------
# descriptor CAS
# ---------------------------------------------------------------------

def test_meta_cas_concurrent_updates_merge(spark, tmp_path):
    loc = str(tmp_path / "cas")
    _base_layout(spark, loc)
    state = {"fired": False}

    def mutate_a(m):
        if not state["fired"]:
            state["fired"] = True
            # a concurrent writer wins the version race first
            S._meta_cas_update(loc, lambda mm: {**mm, "other": "B"})
        return {**m, "mine": "A"}

    out = S._meta_cas_update(loc, mutate_a)
    # neither update lost: A retried against B's descriptor
    assert out["other"] == "B"
    assert out["mine"] == "A"
    meta = S._read_layout_meta(loc)
    assert meta["other"] == "B" and meta["mine"] == "A"
    # first-write CAS authored v1; B took v2; A retried into v3
    assert int(meta["meta_version"]) == 3


def test_meta_cas_heals_stale_canonical_and_steals_dead_claim(
    spark, tmp_path, monkeypatch, caplog
):
    import json
    import logging

    loc = str(tmp_path / "heal")
    _base_layout(spark, loc)
    meta = S._read_layout_meta(loc)

    # a winner that died AFTER writing its version file but BEFORE
    # the canonical rename: recovery restores the canonical from it
    winner = {**meta, "meta_version": 7, "landed": True}
    os.makedirs(f"{loc}/_staging/meta", exist_ok=True)
    with open(f"{loc}/_staging/meta/v{7:012d}.json", "w") as fh:
        json.dump(winner, fh)
    S._recover_layout(loc)
    healed = S._read_layout_meta(loc)
    assert healed["landed"] is True
    assert int(healed["meta_version"]) == 7

    # a winner that died BETWEEN claiming and writing content leaves
    # an EMPTY claim; past the (config-gated) patience the next writer
    # steals it — and the steal is LOGGED (ADVICE r12 #3)
    monkeypatch.setenv("REAIR_CAS_STEAL_PATIENCE_S", "0.3")
    os.makedirs(f"{loc}/_staging/meta", exist_ok=True)
    open(f"{loc}/_staging/meta/v{8:012d}.json", "wb").close()
    with caplog.at_level(logging.WARNING, logger="reair_spark.sources"):
        out = S._meta_cas_update(loc, lambda m: {**m, "after_steal": True})
    assert out["after_steal"] is True
    assert int(out["meta_version"]) == 8
    assert any("stealing dead CAS claim" in r.message
               for r in caplog.records)


def test_meta_cas_paused_winner_is_not_stolen(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 #3 (the lost-update hazard): a claim is stolen only
    after sitting CONTENTLESS past the mtime-gated patience. A merely-
    paused winner (GC, scheduler stall) that completes its publish
    inside the window keeps its version: the contender waits, adopts
    the winner's descriptor, and retries ON TOP — with the old
    fixed-collision-count steal both writers committed the same
    version and one update was silently lost."""
    import json
    import threading
    import time

    monkeypatch.setenv("REAIR_CAS_STEAL_PATIENCE_S", "3.0")
    loc = str(tmp_path / "paused")
    _base_layout(spark, loc)
    meta = S._read_layout_meta(loc)
    v = int(meta["meta_version"]) + 1
    claim = f"{loc}/_staging/meta/v{v:012d}.json"
    os.makedirs(f"{loc}/_staging/meta", exist_ok=True)
    open(claim, "wb").close()  # paused winner: claimed, content pending

    done = {}

    def contender():
        done["out"] = S._meta_cas_update(
            loc, lambda m: {**m, "contender": True}
        )

    t = threading.Thread(target=contender)
    t.start()
    time.sleep(0.5)  # well inside the patience window
    assert t.is_alive()          # contender is WAITING, not stealing
    assert os.path.exists(claim)  # the claim was not stolen

    # the paused winner wakes up and completes its publish
    winner = {**meta, "meta_version": v, "winner": True}
    with open(claim, "w") as fh:
        json.dump(winner, fh)
    t.join(timeout=60)
    assert not t.is_alive()

    out = done["out"]
    # NEITHER update lost: the contender adopted the winner's
    # descriptor and republished its own change at the next version
    assert out["winner"] is True
    assert out["contender"] is True
    assert int(out["meta_version"]) == v + 1
    final = S._read_layout_meta(loc)
    assert final["winner"] is True and final["contender"] is True


def test_concurrent_schema_widenings_both_survive(
    spark, tmp_path, monkeypatch
):
    """Two appends adding DIFFERENT new columns race on the
    descriptor: the widening runs through the CAS, so the union read
    schema ends up carrying both."""
    loc = str(tmp_path / "widen")
    _base_layout(spark, loc)

    state = {"fired": False}
    real_cas = S._meta_cas_update

    def cas_with_concurrent_widen(location, mutate):
        if not state["fired"] and location.rstrip("/") == loc:
            state["fired"] = True
            # writer B's append (new column c2) fully lands first
            S.append_zonemapped(
                spark.range(50, 55).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 4).alias("b"),
                    F.col("id").alias("v"),
                    F.lit("x").alias("c2"),
                ),
                loc, "b", ["v"], ingest_id=91,
            )
        return real_cas(location, mutate)

    monkeypatch.setattr(S, "_meta_cas_update", cas_with_concurrent_widen)
    # writer A adds column c1
    S.append_zonemapped(
        spark.range(60, 65).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("b"),
            F.col("id").alias("v"), F.lit(1.5).alias("c1"),
        ),
        loc, "b", ["v"], ingest_id=92,
    )
    monkeypatch.setattr(S, "_meta_cas_update", real_cas)

    cols = [n for n, _ in S._read_layout_meta(loc)["data_schema"]]
    assert "c1" in cols and "c2" in cols
    df, _ = S.zonemap_scan(spark, loc)
    assert df.count() == 50
    assert set(df.columns) >= {"k", "v", "c1", "c2", "b", "ingest"}


# ---------------------------------------------------------------------
# FailingFs schedule on the CAS window
# ---------------------------------------------------------------------

def test_claim_crash_window_recovers(spark, tmp_path):
    """A fault on the exclusive-create claim kills the merge before
    anything published; re-running it succeeds with no duplicate or
    lost delta (the crashed attempt left at most a reserved id)."""
    board = str(tmp_path / "board")
    register_fs(FailingFs("mockcas", str(tmp_path / "remote"), board))
    try:
        loc = "mockcas://wh/layout"
        _base_layout(spark, loc)
        FailingFs.schedule(board, "create_exclusive", "ingest-1", 1)
        upd = spark.range(1).select(
            F.lit(5).cast("long").alias("k"),
            F.lit(1).cast("long").alias("b"),
            F.lit(4242).cast("long").alias("v"),
        )
        with pytest.raises(OSError, match="injected"):
            S.zonemap_merge(spark, loc, upd, key_cols=["k"])
        res = S.zonemap_merge(spark, loc, upd, key_cols=["k"])
        assert res["n_buckets_affected"] == 1
        df, _ = S.zonemap_scan(spark, loc)
        assert df.where("v = 4242").count() == 1
        assert df.count() == 40
    finally:
        unregister_fs("mockcas")


# ---------------------------------------------------------------------
# whole-layout writer lease (VERDICT r12 ask #3)
# ---------------------------------------------------------------------

def _three_ingest_layout(spark, loc):
    for i in range(3):
        S.append_zonemapped(
            spark.range(i * 20, (i + 1) * 20).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("b"),
                F.col("id").alias("v"),
            ),
            loc, "b", ["v"], ingest_id=i,
        )


def _fingerprint(spark, loc):
    df, stats = S.zonemap_scan(spark, loc, predicates=[("v", 10, 45)])
    return stats, sorted((r.k, r.b, r.v) for r in df.collect())


def test_layout_lease_fold_vs_compact_interleaved(
    spark, tmp_path, monkeypatch
):
    """Two whole-layout writers interleaved: while the fold holds the
    lease, a compact REFUSES (ConcurrentLayoutWriter) instead of
    racing the fold's manifest rewrite — previously 'exclusive by
    contract' only, so the interleaving could tear the layout. The
    fold completes, answers unchanged, and the lease is released
    (a later compact succeeds)."""
    loc = str(tmp_path / "lease")
    _three_ingest_layout(spark, loc)
    before = _fingerprint(spark, loc)

    real_merged = S._merged_manifest
    state = {"fired": False, "refused": False}

    def merged_with_concurrent_compact(*a, **k):
        if not state["fired"]:
            state["fired"] = True
            with pytest.raises(S.ConcurrentLayoutWriter, match="fold"):
                S.zonemap_compact(spark, loc)
            state["refused"] = True
        return real_merged(*a, **k)

    monkeypatch.setattr(
        S, "_merged_manifest", merged_with_concurrent_compact
    )
    res = S.zonemap_rewrite_manifests(spark, loc)
    monkeypatch.setattr(S, "_merged_manifest", real_merged)

    assert state["refused"]
    assert res["deltas_after"] == 1
    assert _fingerprint(spark, loc) == before
    # lease released: the compact now goes through
    assert not os.path.exists(f"{loc}/_staging/lease/writer")
    out = S.zonemap_compact(spark, loc)
    assert out["deltas_after"] == 1
    assert _fingerprint(spark, loc)[1] == before[1]


def test_layout_lease_dead_holder_stolen_live_holder_respected(
    spark, tmp_path, monkeypatch, caplog
):
    import json
    import logging

    loc = str(tmp_path / "steal")
    _three_ingest_layout(spark, loc)

    # a LIVE holder (fresh lease, fat ttl): contender refuses
    os.makedirs(f"{loc}/_staging/lease", exist_ok=True)
    with open(f"{loc}/_staging/lease/writer", "w") as fh:
        json.dump({"op": "compact", "ttl_s": 900.0, "token": "x"}, fh)
    with pytest.raises(S.ConcurrentLayoutWriter, match="compact"):
        S.zonemap_rewrite_manifests(spark, loc)

    # a DEAD holder (lease older than its ttl): stolen, logged, and
    # the fold proceeds
    old = (os.path.getmtime(f"{loc}/_staging/lease/writer") - 4000)
    os.utime(f"{loc}/_staging/lease/writer", (old, old))
    with caplog.at_level(logging.WARNING, logger="reair_spark.sources"):
        res = S.zonemap_rewrite_manifests(spark, loc)
    assert res["deltas_after"] == 1
    assert any("stealing expired layout writer lease" in r.message
               for r in caplog.records)
    assert not os.path.exists(f"{loc}/_staging/lease/writer")


def test_layout_lease_failingfs_schedule_on_acquire(spark, tmp_path):
    """FailingFs schedule on the lease window: an injected failure on
    the lease acquisition surfaces cleanly (no half-taken lease, no
    layout mutation), and the retried fold succeeds and releases."""
    root = str(tmp_path / "froot")
    board = str(tmp_path / "board")
    fs = FailingFs("flease", root, board)
    register_fs(fs)
    try:
        loc = "flease://lay"
        _three_ingest_layout(spark, loc)
        before = _fingerprint(spark, loc)

        FailingFs.schedule(board, "create_exclusive", "writer", 1)
        with pytest.raises(OSError, match="injected"):
            S.zonemap_rewrite_manifests(spark, loc)
        # nothing torn, nothing leaked: no lease file, deltas intact
        assert not os.path.exists(f"{root}/lay/_staging/lease/writer")
        assert _fingerprint(spark, loc) == before

        res = S.zonemap_rewrite_manifests(spark, loc)
        assert res["deltas_after"] == 1
        assert _fingerprint(spark, loc) == before
        assert not os.path.exists(f"{root}/lay/_staging/lease/writer")
    finally:
        unregister_fs("flease")
