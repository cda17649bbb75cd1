"""Zone-mapped layouts as replication TARGETS (VERDICT r10 ask #4):
``zonemap_overwrite`` — full-snapshot INSERT OVERWRITE on the table
format — and ``replicate_warehouse`` publishing through it when the
dest catalog record declares ``parameters.layout = 'zonemapped'``.
Reference parity: the copy task honors the destination table's
storage descriptor (ThriftHiveMetastoreClient Table.sd); here the
"descriptor" is a table format, so the publish is clustered data +
manifest commit, never a raw directory copy."""

from __future__ import annotations

import os

import pytest

from reair_spark.catalog import DirectoryCatalog
from reair_spark.replicate import replicate_warehouse
from reair_spark.sources import (
    scan_catalog_table,
    zonemap_overwrite,
    zonemap_scan,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, bucket string")


def _read_all(spark, loc):
    df, _ = zonemap_scan(spark, loc)
    return sorted((r.k, r.v, r.bucket) for r in df.collect())


def test_overwrite_fresh_layout(spark, tmp_path):
    loc = str(tmp_path / "zm")
    df = _df(spark, [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")])
    res = zonemap_overwrite(
        spark, loc, df, bucket_col="bucket", stat_cols=["k", "v"]
    )
    assert res == {
        "n_rows": 3, "n_buckets": 2,
        "n_buckets_tombstoned": 0, "ingest_id": 0,
    }
    assert _read_all(spark, loc) == [
        (1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")
    ]


def test_overwrite_replaces_and_tombstones(spark, tmp_path):
    loc = str(tmp_path / "zm")
    zonemap_overwrite(
        spark, loc,
        _df(spark, [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]),
        bucket_col="bucket", stat_cols=["k", "v"],
    )
    # new snapshot: bucket a changed, bucket b gone, bucket d new
    res = zonemap_overwrite(
        spark, loc,
        _df(spark, [(9, 9.0, "a"), (3, 3.0, "c"), (4, 4.0, "d")]),
        bucket_col="bucket", stat_cols=["k", "v"],
    )
    assert res["n_buckets"] == 3
    assert res["n_buckets_tombstoned"] == 1  # bucket b
    assert res["ingest_id"] == 1
    assert _read_all(spark, loc) == [
        (3, 3.0, "c"), (4, 4.0, "d"), (9, 9.0, "a")
    ]
    # point-in-time: the pre-overwrite snapshot is still readable
    old, _ = zonemap_scan(spark, loc, max_ingest=0)
    assert sorted((r.k, r.bucket) for r in old.collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # manifest planning skips the tombstoned bucket entirely
    _, stats = zonemap_scan(spark, loc, predicates=[("k", 2, 2)])
    assert stats["n_rows_scanned"] == 0


def test_overwrite_converges_on_republish(spark, tmp_path):
    loc = str(tmp_path / "zm")
    rows = [(1, 1.0, "a"), (2, 2.0, "b")]
    zonemap_overwrite(spark, loc, _df(spark, rows),
                      bucket_col="bucket", stat_cols=["k", "v"])
    res = zonemap_overwrite(spark, loc, _df(spark, rows),
                            bucket_col="bucket", stat_cols=["k", "v"])
    assert res["n_buckets_tombstoned"] == 0
    assert _read_all(spark, loc) == [(1, 1.0, "a"), (2, 2.0, "b")]


def test_overwrite_requires_config_on_fresh_layout(spark, tmp_path):
    with pytest.raises(ValueError, match="bucket_col and stat_cols"):
        zonemap_overwrite(
            spark, str(tmp_path / "zm"),
            _df(spark, [(1, 1.0, "a")]),
        )


def test_overwrite_requires_clustering_column(spark, tmp_path):
    loc = str(tmp_path / "zm")
    zonemap_overwrite(spark, loc, _df(spark, [(1, 1.0, "a")]),
                      bucket_col="bucket", stat_cols=["k"])
    with pytest.raises(ValueError, match="clustering column"):
        zonemap_overwrite(
            spark, loc, spark.createDataFrame([(1, 1.0)], "k int, v double")
        )


# ---------------------------------------------------------------------
# replicate_warehouse with a zonemapped dest target
# ---------------------------------------------------------------------

def _src_warehouse(spark, root):
    """src: one plain text table + one parquet fact table."""
    cat = DirectoryCatalog(root)
    ploc = cat.table_location("wh", "plain")
    os.makedirs(ploc, exist_ok=True)
    with open(os.path.join(ploc, "part-0"), "w") as fh:
        fh.write("hello")
    cat.create_table({
        "db": "wh", "table": "plain", "table_type": "MANAGED_TABLE",
        "cols": [{"name": "c1", "type": "string", "comment": None}],
        "partition_keys": [], "location": ploc, "serde": "text",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    floc = cat.table_location("wh", "fact")
    spark.createDataFrame(
        [(i, float(i) * 10, "a" if i % 2 else "b") for i in range(1, 9)],
        "k int, v double, bucket string",
    ).write.mode("overwrite").parquet(floc)
    cat.create_table({
        "db": "wh", "table": "fact", "table_type": "MANAGED_TABLE",
        "cols": [], "partition_keys": [], "location": floc,
        "serde": "parquet",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    return cat


def _zm_dest(root):
    """dest: the fact table pre-declared as a zonemapped target."""
    cat = DirectoryCatalog(root)
    cat.create_table({
        "db": "wh", "table": "fact", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [],
        "location": cat.table_location("wh", "fact"),
        "serde": "parquet",
        "parameters": {
            "layout": "zonemapped",
            "zonemap.bucket_col": "bucket",
            "zonemap.stat_cols": "k,v",
            "zonemap.ndv_cols": "k",
        },
    })
    return cat


def test_replicate_into_zonemapped_target(spark, tmp_path):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    _src_warehouse(spark, src_root)
    dest_cat = _zm_dest(dest_root)

    out = replicate_warehouse(spark, src_root, dest_root)

    # the format target was published, not copied
    zm = {r.table: r for r in out["zonemap_results"].collect()}
    assert zm["fact"].status == "PUBLISHED"
    assert zm["fact"].n_rows == 8
    assert zm["fact"].n_buckets == 2
    # the raw-copy plan never saw the zonemapped table
    assert out["plan"].where("table = 'fact'").count() == 0
    # dest is a real layout: catalog-dispatched manifest-pruned scan
    df, stats = scan_catalog_table(
        spark, dest_cat, "wh", "fact", predicates=[("k", 1, 3)]
    )
    assert stats["n_buckets_total"] == 2
    got = sorted(
        (r.k, r.v) for r in df.where("k between 1 and 3").collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]
    # the dest record's ndv config reached the layout descriptor
    from reair_spark.sources import zonemap_stats

    st = {r.column: r for r in zonemap_stats(
        spark, dest_cat.get_table("wh", "fact")["location"]).collect()}
    assert st["k"].ndv == 8  # exact below the sketch size
    # the plain table still replicated the classic way
    with open(os.path.join(dest_root, "wh", "plain", "part-0")) as fh:
        assert fh.read() == "hello"


def test_replicate_zonemapped_converges_and_tombstones(spark, tmp_path):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat = _src_warehouse(spark, src_root)
    _zm_dest(dest_root)

    out1 = replicate_warehouse(spark, src_root, dest_root)
    assert out1["zonemap_results"].first().status == "PUBLISHED"

    # unchanged source (same TLDT): the publish watermark skips it —
    # the format-target twin of the file plan's NO_OP rows
    out1b = replicate_warehouse(spark, src_root, dest_root)
    assert out1b["zonemap_results"].first().status == "SKIPPED_UNCHANGED"

    # source shrinks to one bucket (TLDT bumps, as any audited change
    # does); re-replication tombstones the other bucket
    rec = src_cat.get_table("wh", "fact")
    spark.createDataFrame(
        [(1, 10.0, "a")], "k int, v double, bucket string"
    ).write.mode("overwrite").parquet(rec["location"])
    src_cat.alter_table(
        dict(rec, parameters={"transient_lastDdlTime": "200"})
    )
    out2 = replicate_warehouse(spark, src_root, dest_root)
    zm = {r.table: r for r in out2["zonemap_results"].collect()}
    assert zm["fact"].status == "PUBLISHED"
    assert zm["fact"].n_buckets_tombstoned == 1
    dest_cat = DirectoryCatalog(dest_root)
    df, _ = scan_catalog_table(spark, dest_cat, "wh", "fact")
    assert [(r.k, r.bucket) for r in df.collect()] == [(1, "a")]


def test_dest_only_zonemapped_table_is_never_dropped(spark, tmp_path):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    _src_warehouse(spark, src_root)
    dest_cat = _zm_dest(dest_root)
    # a dest-only format table (no src counterpart)
    only_loc = dest_cat.table_location("wh", "local_only")
    zonemap_overwrite(
        spark, only_loc,
        spark.createDataFrame([(1, 1.0, "x")], "k int, v double, bucket string"),
        bucket_col="bucket", stat_cols=["k"],
    )
    dest_cat.create_table({
        "db": "wh", "table": "local_only", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [], "location": only_loc,
        "serde": "parquet", "parameters": {"layout": "zonemapped"},
    })
    out = replicate_warehouse(spark, src_root, dest_root)
    zm = {r.table: r for r in out["zonemap_results"].collect()}
    assert zm["local_only"].status == "SKIPPED_NO_SOURCE"
    assert dest_cat.get_table("wh", "local_only") is not None
    df, _ = scan_catalog_table(spark, dest_cat, "wh", "local_only")
    assert df.count() == 1


def test_incremental_event_publishes_zonemapped_target(spark, tmp_path):
    """The incremental loop composes with format targets FOR FREE:
    execute_job_rows converges every touched table through the targeted
    batch replication, whose zonemapped dispatch publishes through
    zonemap_overwrite — so an audit event naming a table whose DEST
    record declares the layout lands as a manifest-planned publish,
    and re-delivered/stale events are no-ops via the published_src_tldt
    watermark (the ST7 idempotence contract, format edition)."""
    import datetime

    from reair_spark.events import run_incremental
    from reair_spark.sources import zonemap_scan

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state = str(tmp_path / "state")
    _src_warehouse(spark, src_root)
    dest_cat = _zm_dest(dest_root)

    events = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), "CREATETABLE", "",
          [("OUTPUT", "TABLE", "wh.fact", "{}")])],
        "id long, create_time timestamp, command_type string, "
        "command string, objects array<struct<category:string, "
        "obj_type:string, name:string, payload:string>>",
    )
    out = run_incremental(spark, events, src_root, dest_root, state)
    assert out["batches"] == 1

    loc = dest_cat.get_table("wh", "fact")["location"]
    df, stats = zonemap_scan(spark, loc)
    assert stats["n_buckets_total"] == 2
    assert df.count() == 8
    # duplicate delivery of the same event: watermark makes the
    # publish a no-op (still ingest 0, no new snapshot)
    run_incremental(spark, events, src_root, dest_root,
                    str(tmp_path / "state2"))
    _, stats2 = zonemap_scan(spark, loc)
    assert stats2["n_buckets_total"] == 2
    import os as _os

    ingests = sorted(
        p for p in _os.listdir(f"{loc}/manifest") if p.startswith("ingest=")
    )
    assert ingests == ["ingest=0"]  # no second publish


def test_replicate_hidden_partitioning_bucket_expr(spark, tmp_path):
    """Hidden partitioning on the publish path (VERDICT r11 ask #3):
    the SOURCE fact table carries no clustering column at all — the
    dest record declares ``zonemap.bucket_expr`` and the publish
    derives it, records it in the descriptor, and a re-publish after
    a source change re-derives identically."""
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat = DirectoryCatalog(src_root)
    floc = src_cat.table_location("wh", "fact")
    spark.createDataFrame(
        [(i, float(i) * 10) for i in range(1, 9)], "k int, v double"
    ).write.mode("overwrite").parquet(floc)
    src_cat.create_table({
        "db": "wh", "table": "fact", "table_type": "MANAGED_TABLE",
        "cols": [], "partition_keys": [], "location": floc,
        "serde": "parquet",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    dest_cat = DirectoryCatalog(dest_root)
    dest_cat.create_table({
        "db": "wh", "table": "fact", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [],
        "location": dest_cat.table_location("wh", "fact"),
        "serde": "parquet",
        "parameters": {
            "layout": "zonemapped",
            "zonemap.bucket_col": "par",
            "zonemap.stat_cols": "k,v",
            "zonemap.bucket_expr": "pmod(k, 2)",
        },
    })

    out = replicate_warehouse(spark, src_root, dest_root)
    zm = {r.table: r for r in out["zonemap_results"].collect()}
    assert zm["fact"].status == "PUBLISHED"
    assert zm["fact"].n_rows == 8
    assert zm["fact"].n_buckets == 2

    from reair_spark.sources import _read_layout_meta

    loc = dest_cat.get_table("wh", "fact")["location"]
    meta = _read_layout_meta(loc)
    assert meta["bucket_col"] == "par"
    assert meta["bucket_expr"] == "pmod(k, 2)"

    df, stats = scan_catalog_table(spark, dest_cat, "wh", "fact")
    assert stats["n_buckets_total"] == 2
    assert df.where(F_expr_mismatch()).count() == 0

    # source moves: re-publish re-derives through the descriptor
    rec = src_cat.get_table("wh", "fact")
    spark.createDataFrame(
        [(1, 10.0), (4, 40.0)], "k int, v double"
    ).write.mode("overwrite").parquet(rec["location"])
    src_cat.alter_table(
        dict(rec, parameters={"transient_lastDdlTime": "200"})
    )
    out2 = replicate_warehouse(spark, src_root, dest_root)
    assert out2["zonemap_results"].first().status == "PUBLISHED"
    df2, _ = scan_catalog_table(spark, dest_cat, "wh", "fact")
    assert sorted((r.k, r.par) for r in df2.collect()) == [(1, 1), (4, 0)]


def F_expr_mismatch():
    from pyspark.sql import functions as F

    return F.col("par").cast("int") != F.expr("pmod(k, 2)")


def _inc_src(spark, root):
    """Partitioned src fact table: months om=1996-01/1996-02/1997-01,
    deterministic rows, per-partition TLDTs."""
    cat = DirectoryCatalog(root)
    floc = cat.table_location("wh", "pfact")
    df = spark.createDataFrame(
        [(m * 100 + i, float(m * 100 + i), om)
         for m, om in enumerate(["1996-01", "1996-02", "1997-01"])
         for i in range(4)],
        "k int, v double, om string",
    )
    df.write.partitionBy("om").mode("overwrite").parquet(floc)
    cat.create_table({
        "db": "wh", "table": "pfact", "table_type": "MANAGED_TABLE",
        "cols": [{"name": "k", "type": "int", "comment": None},
                 {"name": "v", "type": "double", "comment": None}],
        "partition_keys": [{"name": "om", "type": "string",
                            "comment": None}],
        "location": floc, "serde": "parquet",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    for om in ("1996-01", "1996-02", "1997-01"):
        cat.add_partition("wh", "pfact", {
            "partition_name": f"om={om}", "values": [om],
            "location": os.path.join(floc, f"om={om}"),
            "parameters": {"transient_lastDdlTime": "100"},
        })
    return cat, floc


def _inc_dest(root):
    cat = DirectoryCatalog(root)
    cat.create_table({
        "db": "wh", "table": "pfact", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [],
        "location": cat.table_location("wh", "pfact"),
        "serde": "parquet",
        "parameters": {
            "layout": "zonemapped",
            "zonemap.publish_mode": "incremental",
            "zonemap.bucket_col": "oy",
            "zonemap.bucket_expr": "substring(om, 1, 4)",
            "zonemap.stat_cols": "v",
        },
    })
    return cat


def _pubmap_dict(spark, loc):
    """Merged per-partition watermark view as a dict (test harness for
    the _pubmap side table that replaced the descriptor map)."""
    from reair_spark.replicate import _pubmap_read

    df = _pubmap_read(spark, loc)
    return {} if df is None else {
        r["pname"]: {"tldt": r["tldt"],
                     "buckets": sorted(r["buckets"] or [])}
        for r in df.collect()
    }


def test_incremental_publish_rewrites_only_affected_buckets(
    spark, tmp_path
):
    """zonemap.publish_mode=incremental: after the seeding snapshot,
    a change to ONE source partition rewrites only the clustering
    bucket(s) it touches — unchanged partitions sharing the bucket
    are co-read (bucket = rewrite granularity), other buckets keep
    their original ingest directories untouched — and a dropped
    partition tombstones the bucket it emptied."""
    from reair_spark.sources import (
        _read_layout_meta,
        zonemap_plan,
        zonemap_scan,
    )

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, floc = _inc_src(spark, src_root)
    dest_cat = _inc_dest(dest_root)
    loc = dest_cat.get_table("wh", "pfact")["location"]

    # publish 1: snapshot seeds layout + per-partition watermarks
    out1 = replicate_warehouse(spark, src_root, dest_root)
    zm1 = out1["zonemap_results"].first()
    assert zm1.status == "PUBLISHED"
    assert zm1.n_rows == 12
    pub = _pubmap_dict(spark, loc)
    assert pub["om=1996-01"]["buckets"] == ["1996"]
    assert pub["om=1997-01"]["buckets"] == ["1997"]

    # publish 2: nothing moved
    out2 = replicate_warehouse(spark, src_root, dest_root)
    assert out2["zonemap_results"].first().status == "SKIPPED_UNCHANGED"

    # mutate ONE partition (1996-02): new rows, bumped partition TLDT
    upd = spark.createDataFrame(
        [(999, 999.0), (998, 998.0)], "k int, v double"
    )
    upd.write.mode("overwrite").parquet(
        os.path.join(floc, "om=1996-02")
    )
    src_cat.add_partition("wh", "pfact", {
        "partition_name": "om=1996-02", "values": ["1996-02"],
        "location": os.path.join(floc, "om=1996-02"),
        "parameters": {"transient_lastDdlTime": "200"},
    })
    out3 = replicate_warehouse(spark, src_root, dest_root)
    zm3 = out3["zonemap_results"].first()
    assert zm3.status == "PUBLISHED_INCREMENTAL"
    assert zm3.n_buckets == 1          # only bucket 1996 rewritten
    assert zm3.n_rows == 6             # 4 co-read (1996-01) + 2 new

    df, _ = zonemap_scan(spark, loc)
    got = sorted(r.k for r in df.collect())
    assert got == [0, 1, 2, 3, 200, 201, 202, 203, 998, 999]
    # bucket 1997 still reads from its ORIGINAL ingest (untouched)
    _, kept, _ = zonemap_plan(spark, loc)
    by_bucket = {r["oy"]: r["__ingests"] for r in kept}
    assert by_bucket["1997"] == [0]
    assert by_bucket["1996"] != [0]

    # drop partition 1997-01: its bucket is tombstoned
    src_cat.drop_partition("wh", "pfact", "om=1997-01")
    import shutil as _sh

    _sh.rmtree(os.path.join(floc, "om=1997-01"))
    out4 = replicate_warehouse(spark, src_root, dest_root)
    zm4 = out4["zonemap_results"].first()
    assert zm4.status == "PUBLISHED_INCREMENTAL"
    assert zm4.n_buckets_tombstoned == 1
    df4, stats4 = zonemap_scan(spark, loc)
    assert stats4["n_buckets_total"] == 1
    # 1997's rows (k=200..203) left with their partition
    assert sorted(r.k for r in df4.collect()) == [
        0, 1, 2, 3, 998, 999
    ]
    assert "om=1997-01" not in _pubmap_dict(spark, loc)


def test_incremental_publish_requires_partitioned_source(
    spark, tmp_path
):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    _src_warehouse(spark, src_root)  # unpartitioned fact table
    cat = DirectoryCatalog(dest_root)
    cat.create_table({
        "db": "wh", "table": "fact", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [],
        "location": cat.table_location("wh", "fact"),
        "serde": "parquet",
        "parameters": {
            "layout": "zonemapped",
            "zonemap.publish_mode": "incremental",
            "zonemap.bucket_col": "bucket",
            "zonemap.stat_cols": "k,v",
        },
    })
    with pytest.raises(ValueError, match="partitioned source"):
        replicate_warehouse(spark, src_root, dest_root)


def test_incremental_publish_crash_before_watermark_converges(
    spark, tmp_path, monkeypatch
):
    """Crash windows of the incremental publish: (a) the bucket
    replace dies before anything published — re-replication re-detects
    the change and publishes; (b) the replace lands but the process
    dies BEFORE the watermark update — re-replication re-replaces the
    same buckets (idempotent: a replacing delta of identical rows) and
    then advances the watermark; a third run is a no-op."""
    import reair_spark.sources as S

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, floc = _inc_src(spark, src_root)
    _inc_dest(dest_root)
    dest_cat = DirectoryCatalog(dest_root)
    loc = dest_cat.get_table("wh", "pfact")["location"]

    assert replicate_warehouse(
        spark, src_root, dest_root
    )["zonemap_results"].first().status == "PUBLISHED"

    # mutate one partition at the source
    spark.createDataFrame(
        [(999, 999.0)], "k int, v double"
    ).write.mode("overwrite").parquet(os.path.join(floc, "om=1996-02"))
    src_cat.add_partition("wh", "pfact", {
        "partition_name": "om=1996-02", "values": ["1996-02"],
        "location": os.path.join(floc, "om=1996-02"),
        "parameters": {"transient_lastDdlTime": "200"},
    })

    # window (b): replace lands, the watermark DELTA append dies
    import reair_spark.replicate as R

    real_append = R._pubmap_append
    state = {"boom": True}

    def dying_append(spark_, location, delta, **kw):
        if state["boom"]:
            state["boom"] = False
            raise OSError("injected crash after replace, before "
                          "watermark durability confirmed")
        return real_append(spark_, location, delta, **kw)

    monkeypatch.setattr(R, "_pubmap_append", dying_append)
    with pytest.raises(OSError, match="injected"):
        replicate_warehouse(spark, src_root, dest_root)
    monkeypatch.setattr(R, "_pubmap_append", real_append)

    # data is already correct (replace landed) but the watermark is
    # stale — the re-run re-publishes the same buckets idempotently
    # and advances it
    out2 = replicate_warehouse(spark, src_root, dest_root)
    assert out2["zonemap_results"].first().status == (
        "PUBLISHED_INCREMENTAL"
    )
    from reair_spark.sources import zonemap_scan

    df, _ = zonemap_scan(spark, loc)
    got = sorted(r.k for r in df.collect())
    assert got == [0, 1, 2, 3, 200, 201, 202, 203, 999]

    # converged: the third run is a no-op
    out3 = replicate_warehouse(spark, src_root, dest_root)
    assert out3["zonemap_results"].first().status == "SKIPPED_UNCHANGED"
    assert zonemap_scan(spark, loc)[0].count() == 9


def test_snapshot_then_incremental_flip_reseeds_and_tombstones(
    spark, tmp_path
):
    """ADVICE r12 #4: a dest table first published in SNAPSHOT mode
    has a descriptor but no per-partition watermark map. Flipping it
    to publish_mode=incremental must fall back to a full snapshot
    overwrite that SEEDS the map — diffing against an empty map would
    rewrite every bucket but tombstone nothing, so rows deleted at
    the source would persist at the destination forever."""
    import shutil as _sh

    from reair_spark.sources import (
        _read_layout_meta,
        zonemap_scan,
    )

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, floc = _inc_src(spark, src_root)
    dest_cat = DirectoryCatalog(dest_root)
    dest_cat.create_table({
        "db": "wh", "table": "pfact", "table_type": "EXTERNAL_TABLE",
        "cols": [], "partition_keys": [],
        "location": dest_cat.table_location("wh", "pfact"),
        "serde": "parquet",
        "parameters": {
            "layout": "zonemapped",
            "zonemap.bucket_col": "oy",
            "zonemap.bucket_expr": "substring(om, 1, 4)",
            "zonemap.stat_cols": "v",
        },
    })
    loc = dest_cat.get_table("wh", "pfact")["location"]

    # publish 1: SNAPSHOT mode — descriptor exists, no watermark map
    replicate_warehouse(spark, src_root, dest_root)
    meta = _read_layout_meta(loc)
    assert meta is not None
    assert not meta.get("published_partitions")
    assert _pubmap_dict(spark, loc) == {}
    assert zonemap_scan(spark, loc)[1]["n_buckets_total"] == 2

    # source: DROP the only 1997 partition, touch nothing else
    src_cat.drop_partition("wh", "pfact", "om=1997-01")
    _sh.rmtree(os.path.join(floc, "om=1997-01"))

    # flip the dest table to incremental mode
    rec = dest_cat.get_table("wh", "pfact")
    rec["parameters"]["zonemap.publish_mode"] = "incremental"
    dest_cat.alter_table(rec)

    # publish 2: must SEED via snapshot overwrite — the 1997 bucket is
    # tombstoned and the watermark map is complete
    out = replicate_warehouse(spark, src_root, dest_root)
    zm = out["zonemap_results"].first()
    assert zm.status == "PUBLISHED"
    df, stats = zonemap_scan(spark, loc)
    assert stats["n_buckets_total"] == 1      # 1997 tombstoned
    assert sorted(r.k for r in df.collect()) == [
        0, 1, 2, 3, 100, 101, 102, 103
    ]
    pub = _pubmap_dict(spark, loc)
    assert set(pub) == {"om=1996-01", "om=1996-02"}

    # publish 3: unchanged → skipped; then one-partition change goes
    # through the true incremental path on the seeded map
    out3 = replicate_warehouse(spark, src_root, dest_root)
    assert out3["zonemap_results"].first().status == "SKIPPED_UNCHANGED"


def test_incremental_event_drives_incremental_publish(spark, tmp_path):
    """VERDICT r12 ask #6: the event-driven loop composes with
    publish_mode=INCREMENTAL — an audit event naming one partition of
    an incremental-mode dest table flows run_incremental →
    _publish_zonemap_incremental and rewrites ONLY the affected
    clustering bucket (the untouched bucket keeps its original ingest
    dirs); duplicate delivery is a no-op via the per-partition TLDT
    watermarks (no new manifest ingest)."""
    import datetime

    from reair_spark.events import run_incremental
    from reair_spark.sources import (
        _read_layout_meta,
        zonemap_plan,
        zonemap_scan,
    )

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, floc = _inc_src(spark, src_root)
    dest_cat = _inc_dest(dest_root)
    loc = dest_cat.get_table("wh", "pfact")["location"]

    schema = (
        "id long, create_time timestamp, command_type string, "
        "command string, objects array<struct<category:string, "
        "obj_type:string, name:string, payload:string>>"
    )
    seed_ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), "CREATETABLE", "",
          [("OUTPUT", "TABLE", "wh.pfact", "{}")])], schema,
    )
    out = run_incremental(
        spark, seed_ev, src_root, dest_root, str(tmp_path / "s1")
    )
    assert out["batches"] == 1
    # snapshot seed landed with a complete watermark map
    pub = _pubmap_dict(spark, loc)
    assert set(pub) == {"om=1996-01", "om=1996-02", "om=1997-01"}
    assert zonemap_scan(spark, loc)[0].count() == 12

    # mutate ONE source partition (om=1996-02), bump its TLDT
    upd = spark.createDataFrame(
        [(999, 999.0), (998, 998.0)], "k int, v double"
    )
    upd.write.mode("overwrite").parquet(os.path.join(floc, "om=1996-02"))
    src_cat.add_partition("wh", "pfact", {
        "partition_name": "om=1996-02", "values": ["1996-02"],
        "location": os.path.join(floc, "om=1996-02"),
        "parameters": {"transient_lastDdlTime": "200"},
    })
    part_ev = spark.createDataFrame(
        [(2, datetime.datetime(2024, 1, 2), "ALTERPARTITION", "",
          [("OUTPUT", "PARTITION", "wh.pfact/om=1996-02", "{}")])],
        schema,
    )
    out2 = run_incremental(
        spark, part_ev, src_root, dest_root, str(tmp_path / "s2")
    )
    assert out2["batches"] == 1
    df, _ = zonemap_scan(spark, loc)
    assert sorted(r.k for r in df.collect()) == [
        0, 1, 2, 3, 200, 201, 202, 203, 998, 999
    ]
    # ONLY the 1996 bucket was rewritten: 1997 still reads ingest 0
    _, kept, _ = zonemap_plan(spark, loc)
    by_bucket = {r["oy"]: r["__ingests"] for r in kept}
    assert by_bucket["1997"] == [0]
    assert by_bucket["1996"] != [0]
    ingests_after = sorted(
        p for p in os.listdir(f"{loc}/manifest") if p.startswith("ingest=")
    )

    # duplicate delivery (fresh checkpoint state, same event): the
    # per-partition watermark makes the publish a no-op — no new
    # manifest ingest, identical answers
    run_incremental(
        spark, part_ev, src_root, dest_root, str(tmp_path / "s3")
    )
    assert sorted(
        p for p in os.listdir(f"{loc}/manifest") if p.startswith("ingest=")
    ) == ingests_after
    df2, _ = zonemap_scan(spark, loc)
    assert sorted(r.k for r in df2.collect()) == [
        0, 1, 2, 3, 200, 201, 202, 203, 998, 999
    ]


def test_legacy_descriptor_watermarks_migrate_to_pubmap(spark, tmp_path):
    """A layout whose descriptor still carries the r12
    published_partitions map (pre-side-table format) is migrated on
    first contact: the map moves into _pubmap, the key is stripped
    from the descriptor through the CAS, and the publish proceeds
    INCREMENTALLY on the migrated watermarks — no snapshot reseed."""
    import shutil as _sh

    from reair_spark.sources import (
        _meta_cas_update,
        _read_layout_meta,
        zonemap_plan,
        zonemap_scan,
    )

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, floc = _inc_src(spark, src_root)
    dest_cat = _inc_dest(dest_root)
    loc = dest_cat.get_table("wh", "pfact")["location"]

    assert replicate_warehouse(
        spark, src_root, dest_root
    )["zonemap_results"].first().status == "PUBLISHED"

    # rewind the layout to the r12 FORMAT: watermarks in the
    # descriptor, no side table
    legacy = _pubmap_dict(spark, loc)
    assert set(legacy) == {"om=1996-01", "om=1996-02", "om=1997-01"}
    _sh.rmtree(f"{loc}/_pubmap")
    _meta_cas_update(
        loc, lambda m: {**m, "published_partitions": legacy},
    )

    # mutate ONE partition; the publish must migrate + go incremental
    spark.createDataFrame(
        [(999, 999.0)], "k int, v double"
    ).write.mode("overwrite").parquet(os.path.join(floc, "om=1996-02"))
    src_cat.add_partition("wh", "pfact", {
        "partition_name": "om=1996-02", "values": ["1996-02"],
        "location": os.path.join(floc, "om=1996-02"),
        "parameters": {"transient_lastDdlTime": "200"},
    })
    out = replicate_warehouse(spark, src_root, dest_root)
    zm = out["zonemap_results"].first()
    assert zm.status == "PUBLISHED_INCREMENTAL"  # not a reseed
    assert zm.n_buckets == 1                     # only bucket 1996

    # descriptor shed the map; the side table holds the state
    assert "published_partitions" not in _read_layout_meta(loc)
    pub = _pubmap_dict(spark, loc)
    assert set(pub) == {"om=1996-01", "om=1996-02", "om=1997-01"}
    assert pub["om=1996-02"]["tldt"] == "200"

    # untouched bucket kept its original ingest; answers correct
    _, kept, _ = zonemap_plan(spark, loc)
    by_bucket = {r["oy"]: r["__ingests"] for r in kept}
    assert by_bucket["1997"] == [0]
    assert sorted(
        r.k for r in zonemap_scan(spark, loc)[0].collect()
    ) == [0, 1, 2, 3, 200, 201, 202, 203, 999]

    # converged
    out2 = replicate_warehouse(spark, src_root, dest_root)
    assert out2["zonemap_results"].first().status == "SKIPPED_UNCHANGED"
