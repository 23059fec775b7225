"""Streaming pipeline tests: file-source micro-batches through the
batch-identical enrich plan, checkpointed resume, windowed rollups."""

import glob
import time

import pytest
from pyspark.sql import functions as F

from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
from fluent_plugin_geoip_spark.sources.pages import generate_pages
from fluent_plugin_geoip_spark.streaming.stream import (
    start_pipeline_stream, start_windowed_counts_stream, stream_sink_counts,
)

N = 3000


@pytest.fixture()
def staged_pages(spark, tmp_path):
    """Pages staged as multiple files (one arriving 'later' for resume)."""
    src = str(tmp_path / "incoming")
    generate_pages(spark, N, seed=42, partitions=6).write.parquet(src)
    return src


def test_stream_matches_batch(spark, staged_pages, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_pipeline_stream(spark, staged_pages, out, ckpt)
    q.processAllAvailable()
    q.stop()

    written = spark.read.parquet(f"{out}/data")
    assert written.count() == N
    stream_counts = {r["route_country"]: r["n"] for r in
                     written.groupBy("route_country").agg(F.count("*").alias("n"))
                     .collect()}
    # batch reference result on the same input
    batch = GeoipPipeline(spark).enrich(spark.read.parquet(staged_pages))
    batch_counts = {r["route_country"]: r["n"] for r in
                    batch.groupBy("route_country").agg(F.count("*").alias("n"))
                    .collect()}
    assert stream_counts == batch_counts
    # lineage batch files agree with the sink totals
    assert stream_sink_counts(out) == stream_counts


def test_stream_reuses_batch_compiled_pipeline(spark, staged_pages,
                                               tmp_path):
    """A pipeline whose plan a batch run compiled is applied unchanged to
    the streaming source (same column names): its sinks match a freshly
    built pipeline's stream, and no second plan is compiled. One record
    interpolates a double, so the stream resolves the Ruby float
    formatter the plan calls by name."""
    from fluent_plugin_geoip_spark.functions.templates import (
        _ruby_float_repr,
    )
    from fluent_plugin_geoip_spark.plans.pipeline import FLAGSHIP_RECORDS
    records = {**FLAGSHIP_RECORDS,
               "at": "${city.names.en['client_ip']} "
                     "${location.latitude['client_ip']}"}
    pipe = GeoipPipeline(spark, records=records)
    pipe.run(spark.read.parquet(staged_pages))
    compiled = set(pipe._plans)
    assert compiled
    counts, written = {}, {}
    for name, pipeline in (("reused", pipe),
                           ("fresh", GeoipPipeline(spark, records=records))):
        out = str(tmp_path / name)
        q = start_pipeline_stream(spark, staged_pages, out,
                                  str(tmp_path / f"{name}_ckpt"),
                                  pipeline=pipeline)
        q.processAllAvailable()
        q.stop()
        counts[name] = stream_sink_counts(out)
        written[name] = sorted(
            tuple(r) for r in spark.read.parquet(f"{out}/data")
            .select("url", "city", "latitude", "at").collect())
    assert counts["reused"] == counts["fresh"]
    assert sum(counts["reused"].values()) == N
    assert written["reused"] == written["fresh"]
    assert all(at == f"{city or ''} "
                     f"{'' if lat is None else _ruby_float_repr(lat)}"
               for _, city, lat, at in written["reused"])
    assert any(lat is not None for _, _, lat, _ in written["reused"])
    assert set(pipe._plans) == compiled


def test_stream_checkpoint_resume(spark, staged_pages, tmp_path):
    """Stop the query, add late files, restart with the same checkpoint —
    only the new files are processed, totals converge with no duplication."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_pipeline_stream(spark, staged_pages, out, ckpt)
    q.processAllAvailable()
    q.stop()
    first_total = spark.read.parquet(f"{out}/data").count()
    assert first_total == N

    # late arrivals: a second deterministic chunk, different seed
    generate_pages(spark, 500, seed=7, partitions=2) \
        .write.mode("append").parquet(staged_pages)

    q2 = start_pipeline_stream(spark, staged_pages, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    total = spark.read.parquet(f"{out}/data").count()
    assert total == N + 500  # no reprocessing of the first N (checkpoint)
    assert sum(stream_sink_counts(out).values()) == N + 500


def test_windowed_counts_stream(spark, staged_pages, tmp_path):
    ckpt = str(tmp_path / "ckpt_win")
    q = start_windowed_counts_stream(spark, staged_pages, ckpt,
                                     queryName="win_counts_test")
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM win_counts_test")
    assert out.count() > 0
    total = out.agg(F.sum("n").alias("s")).first()["s"]
    assert total == N
    cols = set(out.columns)
    assert {"window", "route_country", "lang", "n"} <= cols


def test_sessionize_batch(spark):
    from fluent_plugin_geoip_spark.streaming.sessionize import sessionize_batch
    rows = [("1.1.1.1", "2024-01-01 00:00:00"),
            ("1.1.1.1", "2024-01-01 00:10:00"),
            ("1.1.1.1", "2024-01-01 01:30:00"),   # > 30 min gap → new session
            ("2.2.2.2", "2024-01-01 00:05:00")]
    df = spark.createDataFrame(rows, "client_ip string, ts string") \
              .withColumn("warc_ts", F.to_timestamp("ts"))
    out = {(r.client_ip, str(r.session_start)): r.n_events
           for r in sessionize_batch(df, gap_minutes=30).collect()}
    assert out == {("1.1.1.1", "2024-01-01 00:00:00"): 2,
                   ("1.1.1.1", "2024-01-01 01:30:00"): 1,
                   ("2.2.2.2", "2024-01-01 00:05:00"): 1}


def test_sessionize_stream_closes_gapped_sessions(spark, tmp_path):
    from fluent_plugin_geoip_spark.streaming.sessionize import (
        SESSION_SCHEMA, sessionize_stream)
    src = str(tmp_path / "events")
    rows = [("1.1.1.1", "2024-01-01 00:00:00"),
            ("1.1.1.1", "2024-01-01 00:10:00"),
            ("1.1.1.1", "2024-01-01 02:00:00"),   # closes the first session
            ("3.3.3.3", "2024-01-01 00:00:00"),
            ("3.3.3.3", "2024-01-01 05:00:00")]   # closes 3.3.3.3's first
    df = spark.createDataFrame(rows, "client_ip string, ts string") \
              .withColumn("warc_ts", F.to_timestamp("ts")).drop("ts")
    df.write.parquet(src)
    stream = (spark.readStream
              .schema("client_ip string, warc_ts timestamp").parquet(src))
    q = (sessionize_stream(stream, gap_minutes=30)
         .writeStream.outputMode("append").format("memory")
         .queryName("sessions_test")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    # processAllAvailable never settles under ProcessingTimeTimeout (empty
    # batches keep firing timers) — poll the sink instead
    expected = {("1.1.1.1", "2024-01-01 00:00:00"): 2,
                ("3.3.3.3", "2024-01-01 00:00:00"): 1}
    got = {}
    for _ in range(60):
        got = {(r.client_ip, str(r.session_start)): r.n_events
               for r in spark.sql("SELECT * FROM sessions_test").collect()}
        if got == expected:
            break
        time.sleep(1)
    q.stop()
    # closed-by-gap sessions are emitted; still-open tails await timeout
    assert got == expected


def _run_session_stream(spark, src, ckpt, name, expected):
    """Start a 1-file-per-micro-batch session stream and poll the memory
    sink until it matches ``expected`` (or 60 s)."""
    from fluent_plugin_geoip_spark.streaming.sessionize import sessionize_stream
    stream = (spark.readStream
              .schema("client_ip string, warc_ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_minutes=30)
         .writeStream.outputMode("append").format("memory")
         .queryName(name)
         .option("checkpointLocation", ckpt).start())
    got = {}
    for _ in range(60):
        got = {(r.client_ip, str(r.session_start), str(r.session_end)):
               r.n_events
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
        if got == expected:
            break
        time.sleep(1)
    q.stop()
    return got


def test_sessionize_stream_equals_batch_across_microbatches(spark, tmp_path):
    """In-order events split across 3 micro-batches must close exactly the
    sessions the batch twin closes (the streaming path's only hard oracle:
    its batch formulation, which is DuckDB-checked). Open tails are
    excluded — they await the processing-time timeout."""
    from fluent_plugin_geoip_spark.streaming.sessionize import sessionize_batch
    batches = [
        [("10.0.0.1", "2024-01-01 00:00:00"),
         ("10.0.0.1", "2024-01-01 00:10:00"),
         ("10.0.0.2", "2024-01-01 00:05:00")],
        [("10.0.0.1", "2024-01-01 01:00:00"),
         ("10.0.0.1", "2024-01-01 01:05:00")],
        [("10.0.0.1", "2024-01-01 03:00:00"),
         ("10.0.0.2", "2024-01-01 02:00:00")],
    ]
    src = str(tmp_path / "events")
    for rows in batches:
        df = spark.createDataFrame(rows, "client_ip string, ts string") \
                  .withColumn("warc_ts", F.to_timestamp("ts")).drop("ts")
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes → deterministic batch order

    all_df = spark.createDataFrame(
        [r for b in batches for r in b], "client_ip string, ts string") \
        .withColumn("warc_ts", F.to_timestamp("ts")).drop("ts")
    batch_rows = sessionize_batch(all_df, gap_minutes=30).collect()
    # drop each key's last (still-open) session
    last_start = {}
    for r in batch_rows:
        last_start[r.client_ip] = max(last_start.get(r.client_ip, ""),
                                      str(r.session_start))
    expected = {(r.client_ip, str(r.session_start), str(r.session_end)):
                r.n_events for r in batch_rows
                if str(r.session_start) != last_start[r.client_ip]}
    assert len(expected) == 3  # two closed for .1, one for .2

    got = _run_session_stream(spark, src, str(tmp_path / "ckpt"),
                              "sessions_eq_test", expected)
    assert got == expected


def test_sessionize_stream_late_event_divergence(spark, tmp_path):
    """Pins the DOCUMENTED late-data divergence (make_session_fn): an event
    older than the open session's start is absorbed backwards into the open
    session instead of re-opening/re-splitting history as the batch
    formulation would. Sequence (one event per micro-batch):
    00:00 | 02:00 (closes the first) | 00:05 late | 05:00 (closes).
    Stream: (00:00,00:00,1) and (00:05,02:00,2).
    Batch on the same events would give (00:00,00:05,2), (02:00,02:00,1)."""
    src = str(tmp_path / "events")
    for ts in ["2024-01-01 00:00:00", "2024-01-01 02:00:00",
               "2024-01-01 00:05:00", "2024-01-01 05:00:00"]:
        df = spark.createDataFrame([("9.9.9.9", ts)],
                                   "client_ip string, ts string") \
                  .withColumn("warc_ts", F.to_timestamp("ts")).drop("ts")
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)

    expected = {("9.9.9.9", "2024-01-01 00:00:00", "2024-01-01 00:00:00"): 1,
                ("9.9.9.9", "2024-01-01 00:05:00", "2024-01-01 02:00:00"): 2}
    got = _run_session_stream(spark, src, str(tmp_path / "ckpt"),
                              "sessions_late_test", expected)
    assert got == expected


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """Crash between sink write and checkpoint commit re-delivers a batch;
    the batch-id-keyed dynamic overwrite must replace, not duplicate."""
    from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
    from fluent_plugin_geoip_spark.streaming.stream import make_batch_handler
    out = str(tmp_path / "sink")
    pages = generate_pages(spark, 500)
    enriched = GeoipPipeline(spark).enrich(pages)
    handler = make_batch_handler(out)
    handler(enriched, 0)
    first = spark.read.parquet(f"{out}/data").count()
    handler(enriched, 0)  # replay of the same batch
    assert spark.read.parquet(f"{out}/data").count() == first == 500
    handler(enriched, 1)  # a genuinely new batch appends
    assert spark.read.parquet(f"{out}/data").count() == 1000


def test_batch_handler_computes_each_row_once(spark, tmp_path):
    """The handler's per-sink lineage counts what it wrote, read back from
    the batch's partition: a row's Python UDF runs once per micro-batch,
    not again for the counts. A batch that writes nothing records no
    sinks."""
    import json

    from fluent_plugin_geoip_spark.streaming.stream import make_batch_handler
    out = str(tmp_path / "sink")
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def route(i):
        evaluated.add(1)
        return "A" if i % 3 else "B"

    batch = spark.range(30).withColumn("route_country", route("id"))
    handler = make_batch_handler(out)
    handler(batch, 0)
    assert evaluated.value == 30
    assert stream_sink_counts(out) == {"A": 20, "B": 10}
    handler(batch.limit(0), 1)
    with open(f"{out}/_lineage/batches/batch-1.json") as f:
        assert json.load(f)["sinks"] == {}
    assert stream_sink_counts(out) == {"A": 20, "B": 10}


def test_incremental_dedup_stream(spark, tmp_path):
    """Streaming incremental dedup (round 5): micro-batches probe + update
    the persisted signature store; pairs appear across batch boundaries
    (doc in batch 2 matches doc from batch 1 via the store, not via
    streaming state); resume processes only new files."""
    from fluent_plugin_geoip_spark.streaming.stream import (
        start_incremental_dedup_stream,
    )
    src = tmp_path / "src"
    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    docs = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog %d " 

    def write_chunk(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(str(src))

    write_chunk([(1, base % 1 * 5), (2, "first unique text " * 8)])
    q = start_incremental_dedup_stream(
        spark, str(src), store, pairs_dir, ckpt, corpus_docs_dir=docs,
        threshold=0.8, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(store).count() == 16 * 2   # both docs stored

    # batch 2: near-dup of doc 1 (cross-batch, via the store) + self-pair
    write_chunk([(10, base % 1 * 5), (11, "second unique " * 9),
                 (12, "second unique " * 9)])
    q = start_incremental_dedup_stream(
        spark, str(src), store, pairs_dir, ckpt, corpus_docs_dir=docs,
        threshold=0.8, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 10) in got and (11, 12) in got
    assert not any(a < 10 and b < 10 for a, b in got if (a, b) != (1, 10))
    # store now carries every doc; docs dir is the full corpus
    assert spark.read.parquet(store).count() == 16 * 5
    assert spark.read.parquet(docs).count() == 5


def test_stream_lineage_through_scheme_qualified_out_dir(spark, tmp_path):
    """Per-batch lineage files must survive a scheme-qualified out_dir
    (file:// here proves the Hadoop-FS code path — plain open()/listdir
    would fail on the prefix), matching the batch manifests' portability
    contract."""
    from fluent_plugin_geoip_spark.plans.pipeline import GeoipPipeline
    from fluent_plugin_geoip_spark.streaming.stream import (
        make_batch_handler, stream_sink_counts,
    )
    out = "file://" + str(tmp_path / "out")
    pages = generate_pages(spark, 300, seed=7)
    enriched = GeoipPipeline(spark).enrich(pages)
    handler = make_batch_handler(out)
    handler(enriched, 0)
    handler(enriched, 1)
    totals = stream_sink_counts(out)
    assert sum(totals.values()) == 600
    assert spark.read.parquet(f"{out}/data").count() == 600
    # replay of batch 1 is idempotent (dynamic overwrite by batch_id)
    handler(enriched, 1)
    assert spark.read.parquet(f"{out}/data").count() == 600


def test_incremental_dedup_handler_crash_replay(spark, tmp_path):
    """Replay idempotency for the streaming incremental-dedup state tables
    (round-5 ADVICE): every state write is batch_id-partitioned dynamic
    overwrite, so re-delivery after ANY crash point — including a crash
    between the store update and the docs append — converges to the same
    store/docs/pairs contents instead of duplicating rows or dying on a
    missing docs dir."""
    import shutil as _sh

    from fluent_plugin_geoip_spark.streaming.stream import (
        make_incremental_dedup_handler,
    )
    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")
    docs = str(tmp_path / "docs")
    h = make_incremental_dedup_handler(store, pairs_dir, docs, threshold=0.8)
    base = "the quick brown fox jumps over the lazy dog %d "
    b0 = spark.createDataFrame(
        [(1, base % 1 * 5), (2, "first unique text " * 8)],
        "doc_id long, text string")
    h(b0, 0)
    s0 = spark.read.parquet(store).count()
    d0 = spark.read.parquet(docs).count()
    assert s0 == 16 * 2 and d0 == 2

    # crash point A: batch 0 wrote the store but not the docs dir — the
    # exact AnalysisException scenario from the advice. Replay must succeed
    # and restore the docs.
    _sh.rmtree(docs)
    h(b0, 0)
    assert spark.read.parquet(store).count() == s0
    assert spark.read.parquet(docs).count() == d0

    # crash point B: batch 1 updated the store, then crashed before the
    # docs append; checkpoint never committed, so batch 1 replays whole.
    b1 = spark.createDataFrame(
        [(10, base % 1 * 5)], "doc_id long, text string")
    h(b1, 1)
    _sh.rmtree(f"{docs}/batch_id=1")
    h(b1, 1)  # replay: store rows from the failed attempt must not double
    assert spark.read.parquet(store).count() == s0 + 16
    assert spark.read.parquet(docs).count() == d0 + 1
    got = [(r.id_a, r.id_b) for r in spark.read.parquet(pairs_dir).collect()]
    assert got.count((1, 10)) == 1  # cross-batch pair, exactly once

    # crash point C: full replay of an already-committed batch
    h(b1, 1)
    assert spark.read.parquet(store).count() == s0 + 16
    assert spark.read.parquet(docs).count() == d0 + 1


def _stream_state(spark, out):
    """(total rows, per-country counts, batch dirs) of a streaming sink."""
    from fluent_plugin_geoip_spark.operators.route import (
        list_partition_values,
    )
    df = spark.read.parquet(f"{out}/data")
    per = {r.route_country: r.n for r in
           df.groupBy("route_country").agg(F.count("*").alias("n")).collect()}
    batches = sorted(int(v) for v in
                     list_partition_values(spark, f"{out}/data", "batch_id"))
    return df.count(), per, batches


def test_compact_stream_sinks_folds_finalized_batches(spark, tmp_path):
    """compact_stream_sinks must fold batches ≤ max-1 into one batch
    partition with rows, per-country counts, and lineage totals all
    preserved — and leave the newest batch replayable (round-6 ADVICE:
    compact_sinks silently no-ops on the streaming layout)."""
    from fluent_plugin_geoip_spark.operators.route import (
        compact_sinks, compact_stream_sinks,
    )
    from fluent_plugin_geoip_spark.streaming.stream import make_batch_handler
    out = str(tmp_path / "sink")
    enriched = GeoipPipeline(spark).enrich(generate_pages(spark, 400))
    handler = make_batch_handler(out)
    for b in range(4):
        handler(enriched.filter(F.crc32(F.col("url")) % 4 == b), b)
    total0, per0, batches0 = _stream_state(spark, out)
    lineage0 = stream_sink_counts(out)
    assert batches0 == [0, 1, 2, 3]
    # the flat-layout compactor must NOT silently no-op claim success here
    assert compact_sinks(spark, f"{out}/data") == {}

    res = compact_stream_sinks(spark, out)
    assert res == {"folded": [0, 1, 2], "target": 2}
    total1, per1, batches1 = _stream_state(spark, out)
    assert (total1, per1) == (total0, per0)
    assert batches1 == [2, 3]
    assert stream_sink_counts(out) == lineage0  # lineage history untouched
    # idempotent: nothing further to fold (only [2] is below the newest)
    assert compact_stream_sinks(spark, out) == {}
    # the newest batch is still replay-idempotent after compaction
    handler(enriched.filter(F.crc32(F.col("url")) % 4 == 3), 3)
    assert _stream_state(spark, out)[:2] == (total0, per0)


@pytest.mark.parametrize("crash", ["after_stage", "after_intent",
                                   "after_overwrite"])
def test_compact_stream_sinks_crash_replay(spark, tmp_path, crash):
    """A crash at ANY protocol point must leave the sink either untouched
    or resumable: the next compact_stream_sinks call converges to the
    same folded state with no lost or duplicated rows."""
    from fluent_plugin_geoip_spark.operators.route import (
        compact_stream_sinks,
    )
    from fluent_plugin_geoip_spark.streaming.stream import make_batch_handler
    out = str(tmp_path / "sink")
    enriched = GeoipPipeline(spark).enrich(generate_pages(spark, 300))
    handler = make_batch_handler(out)
    for b in range(3):
        handler(enriched.filter(F.crc32(F.col("url")) % 3 == b), b)
    total0, per0, _ = _stream_state(spark, out)

    compact_stream_sinks(spark, out, _crash_point=crash)   # simulated crash
    # rows are never lost mid-protocol (pre-overwrite points leave the
    # sink untouched; post-overwrite leaves target folded + stale dirs
    # that only the finisher may remove)
    res = compact_stream_sinks(spark, out)                 # recovery
    assert res.get("target") == 1 and res.get("folded") == [0, 1]
    total1, per1, batches1 = _stream_state(spark, out)
    assert (total1, per1) == (total0, per0)
    assert batches1 == [1, 2]


def test_incremental_dedup_bucketed_store_stream(spark, tmp_path):
    """Round-7 (VERDICT item 3): the streaming incremental-dedup store in
    its KEY-BUCKETED form — probe results must match the partitioned-store
    handler, the store must accumulate every batch exactly once, and
    crash-replay at both unprotected points must converge:
    (a) replay after the applied-batches lineage was written → append
    skipped, no duplicate rows; (b) replay after the append but BEFORE the
    lineage write → duplicate store rows appear but verified pairs stay
    exactly correct (duplicates only make candidates, which distinct()
    removes)."""
    import json as _json

    from fluent_plugin_geoip_spark.streaming.stream import (
        make_incremental_dedup_handler,
    )
    store = str(tmp_path / "bstore")
    pairs_dir = str(tmp_path / "pairs")
    docs = str(tmp_path / "docs")
    table = "t_stream_sig_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    h = make_incremental_dedup_handler(
        store, pairs_dir, docs, threshold=0.8,
        store_table=table, store_bucket_by=4)
    base = "the quick brown fox jumps over the lazy dog %d "
    b0 = spark.createDataFrame(
        [(1, base % 1 * 5), (2, "first unique text " * 8)],
        "doc_id long, text string")
    h(b0, 0)
    assert spark.table(table).count() == 16 * 2
    # batch 1 finds the cross-batch near-dup THROUGH the bucketed store
    b1 = spark.createDataFrame(
        [(10, base % 1 * 5)], "doc_id long, text string")
    h(b1, 1)
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 10) in got
    assert spark.table(table).count() == 16 * 3

    # (a) replay with lineage present: append is skipped
    h(b1, 1)
    assert spark.table(table).count() == 16 * 3
    assert {(r.id_a, r.id_b)
            for r in spark.read.parquet(pairs_dir).collect()} == got

    # (b) crash between append and lineage write: erase batch 1 from the
    # lineage and replay — the append runs again (duplicate store rows,
    # the documented bounded cost) but pairs must still be exact
    from fluent_plugin_geoip_spark.operators.route import (
        _fs_read_text, _fs_write_text,
    )
    applied = f"{store}/_lineage/applied_batches.json"
    rec = _json.loads(_fs_read_text(applied))
    rec["applied"].remove(1)
    # through the Hadoop FS writer — a plain open() write would poison the
    # local FS's .crc sidecar
    _fs_write_text(applied, _json.dumps(rec))
    h(b1, 1)
    assert spark.table(table).count() == 16 * 4   # bounded duplication...
    assert {(r.id_a, r.id_b)
            for r in spark.read.parquet(pairs_dir).collect()} == got  # ...no wrong pairs
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_bucketed_probe_no_store_side_exchange(spark, tmp_path):
    """The streaming probe plan through the bucketed store: batch-filtered
    store scan keeps the bucket layout — NO exchange between the store
    FileScan and the join; only the micro-batch's entries shuffle."""
    from fluent_plugin_geoip_spark.operators.dedup import (
        signature_band_entries,
    )
    from fluent_plugin_geoip_spark.streaming.stream import (
        make_incremental_dedup_handler,
    )
    store = str(tmp_path / "bstore2")
    table = "t_stream_sig_store2"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    h = make_incremental_dedup_handler(
        store, str(tmp_path / "p"), str(tmp_path / "d"), threshold=0.8,
        store_table=table, store_bucket_by=4)
    b0 = spark.createDataFrame(
        [(i, f"corpus document number {i} text " * 3) for i in range(10)],
        "doc_id long, text string")
    h(b0, 0)
    new_entries = signature_band_entries(
        spark.createDataFrame([(100, "corpus document number 3 text " * 3)],
                              "doc_id long, text string"))
    probe = (new_entries.select("key", F.col("id").alias("id_new"))
             .join(spark.table(table).filter(F.col("batch_id") != 1)
                   .select("key", F.col("id").alias("id_old")), ["key"]))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
        plan = probe._jdf.queryExecution().explainString(
            jmode.fromString("simple"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange" not in plan[plan.index("FileScan"):], plan
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_paragraph_dedup_handler_and_crash_replay(spark, tmp_path):
    """Streaming paragraph dedup: each micro-batch drops paragraphs already
    in the store plus its own non-first repeats; state is batch_id-
    partitioned dynamic overwrite, so re-delivery after any crash point
    converges (no self-dedup, no duplicate store rows)."""
    import shutil as _sh

    from fluent_plugin_geoip_spark.streaming.stream import (
        make_paragraph_dedup_handler,
    )
    store = str(tmp_path / "parastore")
    out = str(tmp_path / "cleaned")
    h = make_paragraph_dedup_handler(store, out)

    b0 = spark.createDataFrame(
        [(1, "unique one\nshared footer"), (2, "unique two\nshared footer")],
        "doc_id long, text string")
    h(b0, 0)
    got0 = {r.doc_id: r.text_dedup for r in spark.read.parquet(out)
            .filter("batch_id = 0").collect()}
    assert got0 == {1: "unique one\nshared footer", 2: "unique two"}
    store_rows = spark.read.parquet(store).count()
    assert store_rows == 3  # unique one, shared footer, unique two

    # batch 1 sees batch 0's paragraphs through the store
    b1 = spark.createDataFrame(
        [(10, "unique two\nbrand new")], "doc_id long, text string")
    h(b1, 1)
    got1 = {r.doc_id: r.text_dedup for r in spark.read.parquet(out)
            .filter("batch_id = 1").collect()}
    assert got1 == {10: "brand new"}

    # crash point: batch 1 updated the store, then crashed before the
    # cleaned-docs write; replay must not self-dedup or duplicate rows
    _sh.rmtree(f"{out}/batch_id=1")
    h(b1, 1)
    got1r = {r.doc_id: r.text_dedup for r in spark.read.parquet(out)
             .filter("batch_id = 1").collect()}
    assert got1r == got1
    assert spark.read.parquet(store).filter("para = 'brand new'").count() == 1
    # empty batch is a no-op
    h(spark.createDataFrame([], "doc_id long, text string"), 2)
    assert spark.read.parquet(store).count() == 4


def test_streaming_handler_auto_compaction(spark, tmp_path):
    """compact_every=K: the bucketed store is compacted through the
    handler every K applied batches — duplicate double-append rows are
    reclaimed, the lineage file survives, and later batches still probe
    correctly through the compacted store."""
    import json as _json

    from fluent_plugin_geoip_spark.operators.route import _fs_read_text
    from fluent_plugin_geoip_spark.streaming.stream import (
        make_incremental_dedup_handler,
    )
    store = str(tmp_path / "bstore")
    table = "t_stream_autocompact"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    h = make_incremental_dedup_handler(
        store, str(tmp_path / "pairs"), str(tmp_path / "docs"),
        threshold=0.8, store_table=table, store_bucket_by=4,
        compact_every=2, compact_max_files_per_bucket=1)
    base = "the quick brown fox jumps over the lazy dog %d "
    h(spark.createDataFrame([(1, base % 1 * 5)],
                            "doc_id long, text string"), 0)
    h(spark.createDataFrame([(2, "first unique text " * 8)],
                            "doc_id long, text string"), 1)
    # 2 applied batches → compaction ran: one file per non-empty bucket
    from fluent_plugin_geoip_spark.operators.dedup import (
        _bucket_table_meta, _store_data_files,
    )
    meta = _bucket_table_meta(spark, table)
    assert _store_data_files(spark, meta["location"]) <= 4
    # lineage survived the swap
    applied = _json.loads(_fs_read_text(
        f"{store}/_lineage/applied_batches.json"))["applied"]
    assert applied == [0, 1]
    assert spark.table(table).count() == 16 * 2
    # later batch still finds the cross-batch near-dup through the
    # compacted store
    h(spark.createDataFrame([(10, base % 1 * 5)],
                            "doc_id long, text string"), 2)
    got = {(r.id_a, r.id_b)
           for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert (1, 10) in got
    spark.sql(f"DROP TABLE IF EXISTS {table}")
