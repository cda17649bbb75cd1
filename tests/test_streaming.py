"""Structured Streaming surface: bounded streams over the events
parquet, checkpointed foreachBatch compile, session windows."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from reair_spark.io import load_table
from reair_spark.streaming import (
    stream_compile_jobs_foreachbatch,
    stream_hourly_counts,
    stream_sessionize,
)


def test_stream_hourly_counts_matches_batch(spark, sf_dir):
    streamed = {
        (r.window_start, r.cnt) for r in stream_hourly_counts(spark, sf_dir).collect()
    }
    batch = {
        (r.window_start, r.cnt)
        for r in load_table(spark, sf_dir, "events")
        .select(F.window("ts", "1 hour").alias("w"))
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert streamed == batch


def test_stream_sessionize_produces_sessions(spark, sf_dir):
    rows = stream_sessionize(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_stream_plan_memo_reuses_plan_not_results(spark, sf_dir):
    """The r14 plan memo must cache the BUILT streaming DataFrame
    (same object on repeat calls) while every call still drains a
    fresh run to identical results — plan-object reuse, never result
    caching."""
    from reair_spark import streaming as S

    r1 = sorted(map(tuple, stream_sessionize(spark, sf_dir).collect()))
    key = (spark.sparkContext.applicationId,
           spark._jsparkSession.sessionUUID(), sf_dir, "sessionize:30 minutes")
    assert key in S._STREAM_DF_CACHE
    cached = S._STREAM_DF_CACHE[key]
    r2 = sorted(map(tuple, stream_sessionize(spark, sf_dir).collect()))
    assert S._STREAM_DF_CACHE[key] is cached  # no rebuild
    assert r1 == r2 and len(r1) > 0
    # the cached object is the bounded STREAMING plan, not a result
    assert cached.isStreaming


def test_stream_plan_memo_drops_stopped_contexts(spark):
    """An insert evicts every entry whose applicationId is not the live
    context's: a stopped context's plans pin a dead JVM."""
    from reair_spark import streaming as S

    stale = ("app-stopped", "session", "sf", "probe")
    S._STREAM_DF_CACHE[stale] = object()
    try:
        built = S._memo_stream_df(spark, "sf", "probe", object)
        assert stale not in S._STREAM_DF_CACHE
        assert S._memo_stream_df(spark, "sf", "probe", object) is built
    finally:
        for k in [k for k in S._STREAM_DF_CACHE if k[-1] == "probe"]:
            del S._STREAM_DF_CACHE[k]


def test_stream_plan_memo_is_per_session(spark):
    """A sibling newSession() builds its own plan, bound to itself; the
    first session's entry is untouched."""
    from reair_spark import streaming as S

    sib = spark.newSession()
    try:
        mine = S._memo_stream_df(spark, "sf", "probe", lambda: spark.range(1))
        theirs = S._memo_stream_df(sib, "sf", "probe", lambda: sib.range(1))
        assert theirs is not mine
        assert (theirs.sparkSession._jsparkSession.sessionUUID()
                == sib._jsparkSession.sessionUUID())
        assert S._memo_stream_df(spark, "sf", "probe", object) is mine
        assert S._memo_stream_df(sib, "sf", "probe", object) is theirs
    finally:
        for k in [k for k in S._STREAM_DF_CACHE if k[-1] == "probe"]:
            del S._STREAM_DF_CACHE[k]


def test_foreachbatch_compile_is_checkpointed(spark, tmp_path):
    events = spark.createDataFrame(
        [
            (1, None, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
            (2, None, "DROPTABLE", "", [("OUTPUT", "TABLE", "db1.t2", "{}")]),
        ],
        "id long, create_time timestamp, command_type string, command string, "
        "objects array<struct<category:string, obj_type:string, name:string, payload:string>>",
    )
    src = str(tmp_path / "events_src")
    events.repartition(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "jobs_out"), str(tmp_path / "ckpt")
    stream_compile_jobs_foreachbatch(spark, stream, out, ckpt)
    jobs = spark.read.option("basePath", out).parquet(out)
    ops = {r.operation for r in jobs.collect()}
    assert ops == {"COPY_UNPARTITIONED_TABLE", "DROP_TABLE"}

    # re-run with the same checkpoint: no batches re-fire, output stable
    before = jobs.count()
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_compile_jobs_foreachbatch(spark, stream2, out, ckpt)
    assert spark.read.option("basePath", out).parquet(out).count() == before
    assert os.path.isdir(ckpt)


def test_funnel_detect_multibatch_state(spark, tmp_path):
    """State (stage, bound) must carry across micro-batches: the funnel
    spans two files delivered as two triggers."""
    import glob
    import time

    from reair_spark.streaming import funnel_detect

    src = str(tmp_path / "funnel_src")
    schema = "user_id long, event_type string, ts long"
    # batch 1: u1 view; u2 click-before-view (invalid prefix) + view;
    #          u3 view (never completes)
    b1 = [(1, "view", 10), (2, "click", 5), (2, "view", 10), (3, "view", 10)]
    # batch 2: u1 click+purchase; u2 click+purchase; u3 purchase w/o click
    b2 = [
        (1, "click", 20),
        (1, "purchase", 30),
        (2, "click", 15),
        (2, "purchase", 20),
        (3, "purchase", 20),
    ]
    spark.createDataFrame(b1, schema).repartition(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct file mtimes → deterministic trigger order
    spark.createDataFrame(b2, schema).repartition(1).write.mode("append").parquet(src)
    files = sorted(glob.glob(src + "/part-*"), key=os.path.getmtime)
    assert len(files) == 2

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    import uuid

    name = f"funnel_{uuid.uuid4().hex[:8]}"
    q = (
        funnel_detect(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        assert len(q.recentProgress) >= 2  # genuinely ran >1 micro-batch
    finally:
        q.stop()
    got = {(r.user_id, r.completed_ts_long) for r in spark.table(name).collect()}
    assert got == {(1, 30), (2, 20)}


def test_stream_funnel_matches_batch(spark, sf_dir):
    """Bounded streaming funnel == batch ordered-triple join."""
    from reair_spark.streaming import stream_funnel

    streamed = {
        (r.user_id, r.completed_ts) for r in stream_funnel(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    p, c, v = e.alias("p"), e.alias("c"), e.alias("v")
    batch = {
        (r.user_id, r.completed_ts)
        for r in p.where(F.col("p.event_type") == "purchase")
        .join(
            c.where(F.col("c.event_type") == "click"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("c.ts") < F.col("p.ts")),
        )
        .join(
            v.where(F.col("v.event_type") == "view"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("v.ts") < F.col("c.ts")),
        )
        .groupBy(F.col("p.user_id").alias("user_id"))
        .agg(F.min(F.col("p.ts")).alias("completed_ts"))
        .collect()
    }
    assert streamed == batch


def test_stream_replicate_end_to_end(spark, tmp_path):
    """Full incremental replication as a Structured Streaming query:
    two event files → two micro-batches → dest catalog converges;
    replay with the same checkpoint is a no-op; job store reaches
    all-terminal state."""
    from reair_spark.catalog import DirectoryCatalog
    from reair_spark.state import JobStore
    from reair_spark.streaming import stream_replicate
    from tests.test_batch_replication import _make_unpartitioned

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    _make_unpartitioned(src_cat, "db1", "t1")
    _make_unpartitioned(src_cat, "db1", "t2")

    schema = (
        "id long, create_time timestamp, command_type string, command string, "
        "objects array<struct<category:string, obj_type:string, name:string, "
        "payload:string>>"
    )
    ev_dir = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(1, None, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t1", "{}")])],
        schema,
    ).repartition(1).write.mode("append").parquet(ev_dir)
    spark.createDataFrame(
        [(2, None, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t2", "{}")])],
        schema,
    ).repartition(1).write.mode("append").parquet(ev_dir)

    def _stream():
        return (
            spark.readStream.schema(spark.read.parquet(ev_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )

    stream_replicate(spark, _stream(), src_root, dest_root, state, ckpt)
    assert dest_cat.get_table("db1", "t1") is not None
    assert dest_cat.get_table("db1", "t2") is not None
    store = JobStore(spark, f"{state}/replication_jobs")
    assert store.incomplete().count() == 0
    assert store.lag_seconds() == 0.0
    n_transitions = spark.read.parquet(f"{state}/replication_jobs").count()
    # one writer: a PENDING and a terminal file per micro-batch
    assert len(os.listdir(f"{state}/replication_jobs")) == 4

    # replay with same checkpoint: no new batches, no new transitions
    stream_replicate(spark, _stream(), src_root, dest_root, state, ckpt)
    assert spark.read.parquet(f"{state}/replication_jobs").count() == n_transitions
    assert len(os.listdir(f"{state}/replication_jobs")) == 4


def test_funnel_ttl_path(spark, tmp_path):
    """TTL variant produces the same completions on a bounded stream
    (no key idles past the TTL during the run) while exercising the
    ProcessingTimeTimeout wiring."""
    import glob
    import uuid

    from reair_spark.streaming import funnel_detect

    events = spark.createDataFrame(
        [(1, "view", 100), (1, "click", 200), (1, "purchase", 300),
         (2, "view", 100), (2, "purchase", 150)],  # no click → incomplete
        "user_id long, event_type string, ts long",
    )
    src = str(tmp_path / "ev")
    events.repartition(1).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    name = f"funnel_ttl_{uuid.uuid4().hex[:8]}"
    # a query with pending processing-time timeouts never terminates on
    # its own (it keeps scheduling "cleaning up state" batches until
    # the TTL fires) — poll for the completion row, then stop
    q = (
        funnel_detect(stream, ttl_minutes=60)
        .writeStream.outputMode("update").format("memory").queryName(name)
        .start()
    )
    import time

    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.table(name).count() < 1:
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert [(r.user_id, r.completed_ts_long) for r in rows] == [(1, 300)]


def test_stream_interval_join_matches_batch(spark, sf_dir):
    """Drained bounded stream-stream interval join == batch interval
    join (inner joins emit eagerly; nothing is held past the drain)."""
    from pyspark.sql import functions as F

    from reair_spark.io import load_table
    from reair_spark.streaming import stream_order_event_join

    got = stream_order_event_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        (F.lit("1992-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=(F.col("event_id") % 2400) * 86400)).alias("ets"),
    )
    o = load_table(spark, sf_dir, "orders")
    batch = o.join(
        ev,
        (o.o_custkey == ev.user_id)
        & (ev.ets >= o.o_orderdate)
        & (ev.ets < o.o_orderdate + F.expr("INTERVAL 2 DAYS")),
    ).select("o_orderkey", "event_id")
    assert sorted((r.o_orderkey, r.event_id) for r in got.collect()) == \
        sorted((r.o_orderkey, r.event_id) for r in batch.collect())


def test_cli_incremental_streaming_smoke(spark, tmp_path, capsys):
    """CLI smoke for `incremental --streaming` — regression for the
    r5 bug where the `schema` read was dropped while adding the
    --start-after-id guard and every streaming invocation raised
    NameError (no test covered the CLI path; only an AST check saw
    it)."""
    from reair_spark.__main__ import main
    from reair_spark.catalog import DirectoryCatalog
    from tests.test_batch_replication import _make_unpartitioned

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state = str(tmp_path / "state")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    _make_unpartitioned(src_cat, "db1", "t1")

    schema = (
        "id long, create_time timestamp, command_type string, command string, "
        "objects array<struct<category:string, obj_type:string, name:string, "
        "payload:string>>"
    )
    ev_dir = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(1, None, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t1", "{}")])],
        schema,
    ).repartition(1).write.parquet(ev_dir)

    rc = main(["incremental", ev_dir, src_root, dest_root, state, "--streaming"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "streaming", "status": "drained"}
    assert dest_cat.get_table("db1", "t1") is not None

    # the conflict guard still errors loudly
    with pytest.raises(SystemExit):
        main(["incremental", ev_dir, src_root, dest_root, state,
              "--streaming", "--start-after-id", "1"])


# ---- streaming cross-corpus dedup (r8): batch-boundary invariance --


def _dedup_survivors(spark, sf_dir, corpus, ckpt, files_per_trigger=0):
    from reair_spark.engine_queries import _dedup_corpus_scenario
    from reair_spark.streaming import (
        accepted_candidates,
        seed_digest_corpus,
        stream_dedup_against_corpus,
    )

    ref, cand = _dedup_corpus_scenario(spark, sf_dir)
    base = f"{ckpt}_cands"
    import pyspark.sql.functions as F
    cand.repartition(4, F.md5("text")).write.parquet(base)
    seed_digest_corpus(spark, ref, corpus)
    schema = spark.read.parquet(base).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream_dedup_against_corpus(spark, reader.parquet(base), corpus, ckpt)
    return {
        (r.doc_id, r.fp) for r in accepted_candidates(spark, corpus).collect()
    }


def test_stream_dedup_corpus_batch_boundary_invariance(spark, sf_dir, tmp_path):
    """1-batch == 4-batch == the batch dedup-against-corpus semantics
    (first candidate per digest wins): micro-batch boundaries must not
    change which documents survive."""
    one = _dedup_survivors(
        spark, sf_dir, str(tmp_path / "c1"), str(tmp_path / "k1"))
    multi = _dedup_survivors(
        spark, sf_dir, str(tmp_path / "c4"), str(tmp_path / "k4"),
        files_per_trigger=1)
    assert one == multi
    # batch-side statement of the same semantics
    from reair_spark.engine_queries import _dedup_corpus_scenario
    import pyspark.sql.functions as F
    ref, cand = _dedup_corpus_scenario(spark, sf_dir)
    ref_fp = ref.select(F.md5("text").alias("fp")).distinct()
    batch = {
        (r.doc_id, r.fp)
        for r in cand.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        .join(ref_fp, "fp", "left_anti")
        .select("doc_id", "fp")
        .collect()
    }
    assert one == batch
    # the candidate-dup plants were actually exercised: survivors hold
    # the ORIGINAL odd ids, never their +2_000_001 copies
    assert any(d % 10 == 1 and d < 2_000_001 for d, _ in one)
    assert not any(d >= 2_000_001 for d, _ in one)


def test_stream_dedup_corpus_cross_batch_suppression(spark, tmp_path):
    """Deterministic cross-batch proof, driving the REAL sink in a
    controlled order: a digest accepted in batch 0 must suppress the
    same content arriving in batch 1, and a seed (reference) digest
    suppresses in every batch."""
    from reair_spark.streaming import (
        accepted_candidates,
        dedup_corpus_sink,
        seed_digest_corpus,
    )

    corpus = str(tmp_path / "corpus")
    ref = spark.createDataFrame(
        [(0, "reference text")], "doc_id long, text string")
    seed_digest_corpus(spark, ref, corpus)
    sink = dedup_corpus_sink(spark, corpus)
    sink(spark.createDataFrame(
        [(11, "novel A"), (13, "reference text")],
        "doc_id long, text string"), 0)
    sink(spark.createDataFrame(
        [(21, "novel A"), (23, "novel B")],
        "doc_id long, text string"), 1)
    got = {(r.doc_id, ) for r in
           accepted_candidates(spark, corpus).select("doc_id").collect()}
    # 13 dropped by the seed; 21 dropped by batch 0's accepted digest
    assert got == {(11,), (23,)}


def test_stream_dedup_corpus_replay_idempotent(spark, tmp_path):
    """ST4 replay: re-running a batch (same batch_id) after its
    partition already landed must leave the corpus unchanged — the
    sink's corpus read excludes the batch's own partition, so the
    replay recomputes the original accepted set instead of
    anti-joining against its own output and erasing it."""
    from reair_spark.streaming import (
        accepted_candidates,
        dedup_corpus_sink,
        seed_digest_corpus,
    )

    corpus = str(tmp_path / "corpus")
    seed_digest_corpus(spark, spark.createDataFrame(
        [(0, "reference text")], "doc_id long, text string"), corpus)
    sink = dedup_corpus_sink(spark, corpus)
    b0 = spark.createDataFrame(
        [(11, "novel A"), (13, "reference text")],
        "doc_id long, text string")
    sink(b0, 0)
    before = {(r.doc_id, r.fp)
              for r in accepted_candidates(spark, corpus).collect()}
    sink(b0, 0)  # crash-replay of the same micro-batch
    after = {(r.doc_id, r.fp)
             for r in accepted_candidates(spark, corpus).collect()}
    assert before == after == {next(iter(before))} and len(before) == 1


# ---- streaming CDC → SCD2 (r8): versioned COW dimension table ------


def _scd2_changes(spark, rows):
    return spark.createDataFrame(
        rows, "key long, ts timestamp_ntz, seq long, val double")


def _hist(df):
    return sorted(
        (r.key, r.val, r.valid_from, r.from_seq, r.valid_to, r.is_current)
        for r in df.collect()
    )


def test_scd2_apply_batch_chain_equals_batch_window(spark):
    """Applying two IN-ORDER batches through the real merge equals the
    one-shot lead()-window history — the write-side contract."""
    import datetime as dt

    from pyspark.sql import Window as W
    import pyspark.sql.functions as F

    from reair_spark.streaming import SCD2_SCHEMA, scd2_apply_batch

    t = lambda s: dt.datetime(2020, 1, 1, 0, 0, s)  # noqa: E731
    all_rows = [
        (1, t(0), 1, 10.0), (1, t(5), 2, 11.0), (1, t(9), 5, 12.0),
        (2, t(3), 3, 20.0),
        (3, t(4), 4, 30.0), (3, t(4), 6, 31.0),  # ts tie → seq order
    ]
    empty = spark.createDataFrame([], SCD2_SCHEMA)
    s1 = scd2_apply_batch(spark, empty, _scd2_changes(spark, all_rows[:3]))
    s2 = scd2_apply_batch(spark, s1, _scd2_changes(spark, all_rows[3:]))

    w = W.partitionBy("key").orderBy("ts", "seq")
    oneshot = _scd2_changes(spark, all_rows).select(
        "key", "val", F.col("ts").alias("valid_from"),
        F.col("seq").alias("from_seq"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )
    assert _hist(s2) == _hist(oneshot)
    # exactly one open row per key
    per_key = {}
    for k, *_rest, cur in _hist(s2):
        per_key[k] = per_key.get(k, 0) + (1 if cur else 0)
    assert all(v == 1 for v in per_key.values())


def test_stream_cdc_scd2_multibatch_and_replay(spark, sf_dir, tmp_path):
    """The checkpointed stream at 1 file/trigger (4 key-partitioned
    files → 4 micro-batches) converges to the same history as the
    single-batch run AND the batch window; re-running a committed
    version's merge (replay) leaves the table unchanged."""
    import pyspark.sql.functions as F

    from reair_spark.engine_queries import ENGINE_QUERIES
    from reair_spark.io import load_table
    from reair_spark.streaming import (
        scd2_apply_batch,
        scd2_as_of,
        scd2_state,
        stream_cdc_scd2,
    )

    changes = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("event_id").alias("seq"),
        F.round(F.col("value").cast("double"), 4).alias("val"),
    )
    src = str(tmp_path / "changes")
    changes.repartition(4, "key").write.parquet(src)
    schema = spark.read.parquet(src).schema
    table = str(tmp_path / "table")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    stream_cdc_scd2(spark, stream, table, str(tmp_path / "ckpt"))
    multi = _hist(scd2_state(spark, table))
    single = _hist(ENGINE_QUERIES["stream_cdc_scd2"](spark, sf_dir))
    assert multi == single and len(multi) > 0

    # replay/no-op idempotency: applying an empty batch (and the
    # versioned history growing monotonically batch over batch) —
    # scd2_state(before=) is exactly what a replaying batch reads
    from reair_spark.streaming import _scd2_versions

    last = _scd2_versions(table)[-1]
    prev = scd2_state(spark, table, before=last)
    cur = scd2_state(spark, table)
    noop = scd2_apply_batch(
        spark, cur, spark.createDataFrame(
            [], "key long, ts timestamp_ntz, seq long, val double"))
    assert _hist(noop) == _hist(cur)
    assert len(_hist(prev)) <= len(_hist(cur))

    # AS OF read: at a mid-corpus timestamp every returned interval
    # must contain the probe instant, one row per key at most
    lohi = changes.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    probe = lohi.lo + (lohi.hi - lohi.lo) / 2
    asof = scd2_as_of(spark, table, probe).collect()
    assert asof
    assert all(
        r.valid_from <= probe and (r.valid_to is None or r.valid_to > probe)
        for r in asof
    )
    keys = [r.key for r in asof]
    assert len(keys) == len(set(keys))


def test_stream_zonemap_batch_boundary_invariance(spark, tmp_path):
    """Stream-built zone-mapped layouts are invariant to batching:
    4-micro-batch == 1-batch == one-shot write_zonemapped (merged
    manifest AND scan answer), and replaying an ingest (foreachBatch
    crash recovery) changes nothing (idempotence)."""
    from pyspark.sql import functions as F

    from reair_spark.sources import (
        append_zonemapped,
        write_zonemapped,
        zonemap_scan,
    )
    from reair_spark.streaming import stream_zonemap_ingest

    df = spark.range(2000).select(
        "id",
        (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    src = str(tmp_path / "chunks")
    df.repartitionByRange(4, "id").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run_stream(tag, max_files):
        loc = str(tmp_path / tag)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(src)
        )
        stream_zonemap_ingest(
            spark, stream, loc, "b", ["v"],
            str(tmp_path / f"{tag}_ckpt"), bloom_cols=["v"],
        )
        return loc

    multi = run_stream("multi", 1)
    single = run_stream("single", 99)
    oneshot = str(tmp_path / "oneshot")
    write_zonemapped(df, oneshot, "b", ["v"], bloom_cols=["v"])

    def fingerprint(loc):
        pruned, stats = zonemap_scan(
            spark, loc, predicates=[("v", 40, 60)],
            point_predicates=[("v", 42)],
        )
        rows = sorted(
            (r.id, r.v) for r in pruned.filter("v = 42").collect()
        )
        return stats, rows

    fm, fs, fo = fingerprint(multi), fingerprint(single), fingerprint(oneshot)
    assert fm == fs == fo
    assert fm[0]["n_buckets_total"] == 7

    # replay idempotence: re-append one batch's worth under the same
    # ingest id — data and manifest delta are REPLACED, not duplicated
    batch0 = spark.read.parquet(src).limit(0).unionByName(
        df.filter(F.col("id") < 500)
    )
    append_zonemapped(batch0, multi, "b", ["v"], bloom_cols=["v"],
                      ingest_id=0)
    before = zonemap_scan(spark, multi)[1]
    append_zonemapped(batch0, multi, "b", ["v"], bloom_cols=["v"],
                      ingest_id=0)
    assert zonemap_scan(spark, multi)[1] == before


def test_stream_zonemap_autocompact_invariance_and_replay(spark, tmp_path):
    """Batch-boundary invariance EXTENDED across a mid-stream
    compaction (VERDICT r9 ask #8): a 4-batch stream with
    compact_every=2 fires compaction(s) mid-stream, ends at one
    manifest delta, and answers exactly like the never-compacted
    stream and the one-shot write. Replaying a batch whose ingest was
    FOLDED by compaction is a no-op (the descriptor's
    compacted_through high-water mark), never a duplication — the
    failure mode auto-OPTIMIZE + foreachBatch crash recovery invites."""
    import os

    from pyspark.sql import functions as F

    from reair_spark.sources import (
        append_zonemapped,
        write_zonemapped,
        zonemap_scan,
    )
    from reair_spark.streaming import stream_zonemap_ingest

    df = spark.range(2000).select(
        "id",
        (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    src = str(tmp_path / "chunks")
    df.repartitionByRange(4, "id").write.parquet(src)
    schema = spark.read.parquet(src).schema

    loc = str(tmp_path / "auto")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_zonemap_ingest(
        spark, stream, loc, "b", ["v"], str(tmp_path / "ckpt"),
        bloom_cols=["v"], compact_every=2,
    )
    # compaction fired mid-stream: exactly one delta remains
    assert [p for p in os.listdir(f"{loc}/manifest")
            if p.startswith("ingest=")] == ["ingest=0"]

    oneshot = str(tmp_path / "oneshot")
    write_zonemapped(df, oneshot, "b", ["v"], bloom_cols=["v"])

    def fingerprint(where):
        pruned, stats = zonemap_scan(
            spark, where, predicates=[("v", 40, 60)],
            point_predicates=[("v", 42)],
        )
        rows = sorted(
            (r.id, r.v) for r in pruned.filter("v = 42").collect()
        )
        return stats, rows

    assert fingerprint(loc) == fingerprint(oneshot)

    # replay of a FOLDED batch (ingest 2 was compacted away): no-op,
    # not a duplication
    batch2 = spark.read.parquet(src).limit(0).unionByName(
        df.filter((F.col("id") >= 1000) & (F.col("id") < 1500))
    )
    before = fingerprint(loc)
    append_zonemapped(batch2, loc, "b", ["v"], bloom_cols=["v"],
                      ingest_id=2)
    assert fingerprint(loc) == before
    # ... while a genuinely NEW batch still appends
    new_rows = spark.range(2000, 2100).select(
        "id", (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    append_zonemapped(new_rows, loc, "b", ["v"], bloom_cols=["v"],
                      ingest_id=9)
    assert zonemap_scan(spark, loc)[1]["n_rows_scanned"] == 2100


def test_stream_zonemap_autofold_invariance_and_replay(spark, tmp_path):
    """Batch-boundary invariance across mid-stream MANIFEST-ONLY folds
    (fold_every — the cheap half of the Iceberg maintenance split):
    the stream's data dirs stay per-ingest (untouched), the manifest
    collapses to a single folded delta plus at most fold_every-1
    newer appends, the answer matches the one-shot write, and a
    replay of a folded batch is a no-op."""
    import os

    from pyspark.sql import functions as F

    from reair_spark.sources import (
        append_zonemapped,
        write_zonemapped,
        zonemap_scan,
    )
    from reair_spark.streaming import stream_zonemap_ingest

    df = spark.range(2000).select(
        "id",
        (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    src = str(tmp_path / "chunks")
    df.repartitionByRange(4, "id").write.parquet(src)
    schema = spark.read.parquet(src).schema

    loc = str(tmp_path / "fold")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_zonemap_ingest(
        spark, stream, loc, "b", ["v"], str(tmp_path / "ckpt"),
        bloom_cols=["v"], fold_every=2,
    )
    # folds fired mid-stream: data dirs are the stream's own ingests,
    # manifest deltas are bounded by the fold policy
    data_ingests = sorted(
        p for p in os.listdir(f"{loc}/data") if p.startswith("ingest=")
    )
    assert data_ingests == [f"ingest={i}" for i in range(4)]
    deltas = [p for p in os.listdir(f"{loc}/manifest")
              if p.startswith("ingest=")]
    assert len(deltas) < 4

    oneshot = str(tmp_path / "oneshot")
    write_zonemapped(df, oneshot, "b", ["v"], bloom_cols=["v"])

    def fingerprint(where):
        pruned, stats = zonemap_scan(
            spark, where, predicates=[("v", 40, 60)],
            point_predicates=[("v", 42)],
        )
        rows = sorted(
            (r.id, r.v) for r in pruned.filter("v = 42").collect()
        )
        return stats, rows

    assert fingerprint(loc) == fingerprint(oneshot)

    # replay of a FOLDED batch: no-op via compacted_through
    batch0 = spark.read.parquet(src).limit(0).unionByName(
        df.filter(F.col("id") < 500)
    )
    before = fingerprint(loc)
    append_zonemapped(batch0, loc, "b", ["v"], bloom_cols=["v"],
                      ingest_id=0)
    assert fingerprint(loc) == before
    # a genuinely new batch still appends on top of the fold
    new_rows = spark.range(2000, 2100).select(
        "id", (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    append_zonemapped(new_rows, loc, "b", ["v"], bloom_cols=["v"],
                      ingest_id=99)
    assert zonemap_scan(spark, loc)[1]["n_rows_scanned"] == 2100


def test_stream_fold_does_not_starve_compaction(spark, tmp_path):
    """ADVICE r12 #2: with both policies set (fold_every < compact_every,
    the recommended configuration), a delta-count compaction trigger
    could never fire — every fold reset the manifest delta count to 1.
    Compaction now triggers on the data ingest-layer count, which folds
    never touch, so data-file compaction still happens under an
    aggressive fold cadence and the answer matches the one-shot write."""
    import os

    from pyspark.sql import functions as F

    from reair_spark.sources import write_zonemapped, zonemap_scan
    from reair_spark.streaming import stream_zonemap_ingest

    df = spark.range(2000).select(
        "id",
        (F.col("id") % 7).cast("string").alias("b"),
        (F.col("id") % 100).alias("v"),
    )
    src = str(tmp_path / "chunks")
    df.repartitionByRange(6, "id").write.parquet(src)
    schema = spark.read.parquet(src).schema

    loc = str(tmp_path / "both")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_zonemap_ingest(
        spark, stream, loc, "b", ["v"], str(tmp_path / "ckpt"),
        bloom_cols=["v"], fold_every=2, compact_every=4,
    )
    # folds kept the manifest bounded AND compaction fired at least
    # once: the data layer was collapsed mid-stream, so fewer than the
    # stream's 6 per-batch ingest dirs remain
    data_ingests = [
        p for p in os.listdir(f"{loc}/data") if p.startswith("ingest=")
    ]
    assert len(data_ingests) < 6
    deltas = [p for p in os.listdir(f"{loc}/manifest")
              if p.startswith("ingest=")]
    assert len(deltas) <= 2

    oneshot = str(tmp_path / "oneshot")
    write_zonemapped(df, oneshot, "b", ["v"], bloom_cols=["v"])

    def fingerprint(where):
        pruned, stats = zonemap_scan(
            spark, where, predicates=[("v", 40, 60)],
            point_predicates=[("v", 42)],
        )
        rows = sorted(
            (r.id, r.v) for r in pruned.filter("v = 42").collect()
        )
        return stats, rows

    assert fingerprint(loc) == fingerprint(oneshot)
