"""Structured Streaming variant of the pipeline (SURVEY.md §2.7, S6).

The reference IS a streaming operator — a stateless per-record fluentd filter
(`filter(tag, time, record)`, filter_geoip.rb:106-113) declared
process-parallel-safe (`multi_workers_ready? → true`, rb:115-117). The Spark
restatement keeps the transformation identical to the batch plan (the
enricher is reused verbatim — batch/streaming parity by construction) and
adds what fluentd buffering gave the reference: at-least-once delivery with
checkpoint-based resume, made effectively exactly-once by the idempotent
per-partition overwrite in ``foreachBatch``.

- source: ``readStream`` over a directory of page files (stand-in for
  Kafka/Kinesis; swapping the source touches nothing downstream)
- enrich: the batch ``GeoipEnricher`` applied to the streaming DataFrame —
  narrow, stateless, no watermark needed (rb has no event-time state)
- sink: ``foreachBatch`` → rebalanced ``partitionBy(country)`` parquet write
  per micro-batch, with per-batch lineage rows; ``checkpointLocation``
  makes restarts resume from the last committed micro-batch
- windowed aggregates (optional): tumbling-window counts on ``warc_ts``
  with a watermark, for the per-country/lang rollup as a live stream
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..confutil import dynamic_overwrite
from ..operators.route import (
    _fs_for, _fs_read_text, _fs_write_text, _write_sinks,
)
from ..plans.pipeline import FLAGSHIP_RECORDS, GeoipPipeline

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string")


def read_pages_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))


def start_pipeline_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    pipeline: GeoipPipeline | None = None,
):
    """readStream → parse/enrich (batch-identical plan) → foreachBatch route.

    Each micro-batch appends to the per-country layout and records a lineage
    row ``(batch_id, route_country, rows)`` under ``_lineage/batches/``. A
    restarted query re-processes only uncommitted batches (checkpoint), and
    a re-delivered batch overwrites its own files (write by batch id) — so
    sink contents converge to exactly-once.
    """
    pipe = pipeline or GeoipPipeline(spark, records=dict(FLAGSHIP_RECORDS))
    stream = read_pages_stream(spark, source_dir)
    enriched = pipe.enrich(stream)

    handle_batch = make_batch_handler(out_dir)
    query = (enriched.writeStream
             .foreachBatch(handle_batch)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append")
             .start())
    return query


def make_batch_handler(out_dir: str):
    """foreachBatch handler with true replay idempotency: every micro-batch
    writes under ``batch_id=<n>/route_country=<c>/`` with DYNAMIC partition
    OVERWRITE, so a re-delivered batch (crash between the sink write and the
    checkpoint commit) replaces exactly its own partitions instead of
    appending a duplicate copy. Exposed standalone so replay can be tested
    by invoking it twice with the same batch id.

    Like the batch router, the write is an AQE rebalance on the route
    key, so AQE sizes the per-batch write partitions — micro-batches are
    small, so this typically lands ONE file per (batch, country). Long-
    running streams should still compact periodically —
    with ``operators.route.compact_stream_sinks``, which understands this
    handler's ``batch_id=<n>/route_country=<c>`` nesting and preserves
    replay idempotency (``compact_sinks`` expects the flat batch layout
    and would no-op here).

    The lineage row counts what the batch wrote, read back from its
    ``batch_id=<n>`` partition (a batch that wrote nothing records no
    sinks), so the batch's plan runs once."""
    lineage_dir = f"{out_dir}/_lineage/batches"

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        routed = (batch_df.withColumn("batch_id", F.lit(batch_id))
                  .hint("rebalance", "route_country"))
        written = f"{out_dir}/data/batch_id={batch_id}"
        _write_sinks(routed, f"{out_dir}/data",
                     ("batch_id", "route_country"), "parquet", dynamic=True)
        fs, path, _ = _fs_for(spark, written)
        stats = (spark.read.parquet(written).groupBy("route_country")
                 .agg(F.count("*").alias("rows")).collect()
                 if fs.exists(path) else [])
        # Hadoop-FS write (round 5): works when out_dir is s3a://hdfs://,
        # same portability contract as the batch manifests (route.py)
        _fs_write_text(
            f"{lineage_dir}/batch-{batch_id}.json",
            json.dumps({"batch_id": batch_id,
                        "sinks": {r["route_country"]: r["rows"]
                                  for r in stats}}, sort_keys=True))

    return handle_batch


def start_windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    queryName: str = "geoip_counts",
    output_mode: str = "complete",
):
    """Live per-window/country/lang rollup — the streaming form of the A1
    aggregate (in-memory sink for inspection).

    Two coherent modes (a watermark does nothing in complete mode — state is
    retained forever to re-emit the full result, so pairing them would be a
    lie):
    - ``complete``: full table every trigger, NO watermark. Only for bounded
      key cardinality (window × country × lang here is bounded per day).
    - ``append``: watermark-evicted state, emits each window once it is
      final — the unbounded-runtime configuration.
    """
    pipe = GeoipPipeline(spark)
    stream = read_pages_stream(spark, source_dir)
    enriched = pipe.enrich(stream)
    if output_mode == "append":
        enriched = enriched.withWatermark("warc_ts", watermark)
    agg = (enriched
           .groupBy(F.window("warc_ts", window),
                    F.col("route_country"), F.col("lang"))
           .agg(F.count("*").alias("n")))
    return (agg.writeStream.outputMode(output_mode)
            .format("memory").queryName(queryName)
            .option("checkpointLocation", checkpoint_dir)
            .start())


def _is_batch_lineage(name: str) -> bool:
    """Only committed per-batch lineage files count — a crash between tmp
    create and rename must never double-count a batch or feed partial JSON
    to the parser (round-5 ADVICE; tmp files are additionally dot-hidden,
    this filter is belt-and-braces)."""
    return name.startswith("batch-") and name.endswith(".json")


def stream_sink_counts(out_dir: str) -> dict[str, int]:
    """Total routed rows per sink according to the per-batch lineage files
    (read through the Hadoop FS API — any scheme Spark can reach)."""
    from pyspark.sql import SparkSession
    totals: dict[str, int] = {}
    lineage_dir = f"{out_dir}/_lineage/batches"
    spark = SparkSession.getActiveSession()
    if spark is None:
        if not os.path.isdir(lineage_dir):
            return totals
        names = [os.path.join(lineage_dir, n)
                 for n in sorted(os.listdir(lineage_dir))
                 if _is_batch_lineage(n)]
    else:
        fs, p, _ = _fs_for(spark, lineage_dir)
        if not fs.exists(p):
            return totals
        names = sorted(st.getPath().toString() for st in fs.listStatus(p)
                       if _is_batch_lineage(st.getPath().getName()))
    for name in names:
        rec = json.loads(_fs_read_text(name))
        for sink, n in rec["sinks"].items():
            totals[sink] = totals.get(sink, 0) + n
    return totals


def start_incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    corpus_docs_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    bands: int = 16,
    rows: int = 8,
    max_files_per_trigger: int = 4,
    docs_schema: str = "doc_id long, text string",
):
    """Streaming incremental dedup — the continuous form of the daily batch
    operator (``operators.dedup.incremental_minhash_dedup``): each
    micro-batch of new documents is signatured, probed against the
    persisted signature store (plus the docs dir for verification text),
    its near-dup pairs appended under ``pairs_dir/batch_id=<n>/`` with
    dynamic partition overwrite (replay-idempotent like the routing sink),
    and its band entries appended to the store so the NEXT micro-batch —
    and tomorrow's batch job — sees it.

    ``corpus_docs_dir`` holds the already-ingested corpus text for
    candidate verification; new batches are appended there too, so it
    doubles as the raw-docs table. At scale both the store and the docs
    dir are ordinary partitioned tables — there is no unbounded streaming
    state; all state lives in storage, which is what makes the operator
    resumable from checkpoint alone.
    """
    handle_batch = make_incremental_dedup_handler(
        store_dir, pairs_dir, corpus_docs_dir, id_col=id_col,
        text_col=text_col, threshold=threshold, bands=bands, rows=rows)
    stream = (spark.readStream.schema(docs_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    return (stream.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append").start())


def make_incremental_dedup_handler(
    store_dir: str,
    pairs_dir: str,
    corpus_docs_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    bands: int = 16,
    rows: int = 8,
    store_table: str | None = None,
    store_bucket_by: int = 8,
    compact_every: int | None = None,
    compact_max_files_per_bucket: int = 8,
):
    """foreachBatch handler for streaming incremental dedup, exposed
    standalone so replay/crash recovery is directly testable.

    ``compact_every=K`` (bucketed form only) runs
    :func:`..operators.dedup.compact_bucketed_store_if_needed` after
    every K-th applied batch — the store-maintenance leg (round 8): a
    long-running stream otherwise accretes one file set per bucket per
    batch. The check is metadata-only when the store is healthy; an
    interrupted compaction is resumed on the next trigger (intent-file
    protocol), and compaction preserves the applied-batch lineage file,
    so replay semantics are unchanged.

    Replay idempotency (round-5 ADVICE — the old append-based state updates
    permanently duplicated store and docs rows on foreachBatch replay, and
    a batch-0 crash between the store write and the docs append killed the
    replay with an AnalysisException on the missing docs dir):

    - EVERY state table is partitioned by ``batch_id`` and written with
      dynamic partition overwrite — store under
      ``batch_id=<n>/band=<b>/``, docs and pairs under ``batch_id=<n>/``.
      A re-delivered batch replaces exactly its own partitions.
    - Reads of the store and docs exclude the replaying batch's own
      partitions (``batch_id != n`` — partition-pruned), so rows written
      by a failed earlier attempt of THIS batch can't probe against
      themselves; existence of either dir is checked through the Hadoop FS
      API before reading, so any crash point between the three writes
      replays cleanly.

    ``store_table`` (round 7, VERDICT item 3) switches the signature store
    to the KEY-BUCKETED form the batch path already uses: the store lives
    as a ``bucketBy(store_bucket_by, "key").sortBy("key")`` external table
    rooted at ``store_dir``, the probe joins on ``key`` alone so the store
    side feeds the join with NO exchange (only the micro-batch's entries
    shuffle — the per-batch cost stops scaling with store size), and the
    replay story changes shape because bucketed ``saveAsTable`` appends
    cannot be partition-overwritten:

    - an **applied-batch-ids lineage file** (``_lineage/applied_batches``,
      atomic tmp+rename) guards the append — a re-delivered batch whose id
      is already recorded skips the store update entirely;
    - the only unprotected window is a crash BETWEEN the append and the
      lineage write: the replay then appends the batch's entries twice.
      Duplicate ``(band, key, id)`` store rows are **harmless by
      construction** — they can only produce duplicate candidate pairs,
      which the probe's ``.distinct()`` removes before verification — so
      the window costs bounded storage (one batch's entries per crash),
      never correctness; that storage — and the one-file-set-per-bucket-
      per-append accretion itself — is reclaimed by periodically running
      :func:`..operators.dedup.compact_bucketed_store` (round 8), which
      preserves the bucket spec and the lineage file;
    - rows carry ``batch_id``, and the probe filters the replaying batch's
      own rows out (a plain filter preserves the bucketed scan's
      distribution, so the no-exchange property survives).
    """
    from ..operators.dedup import incremental_minhash_dedup

    docs_dir = corpus_docs_dir or f"{store_dir}_docs"
    applied_path = f"{store_dir}/_lineage/applied_batches.json"

    def read_applied() -> list[int]:
        text = _fs_read_text(applied_path)
        return json.loads(text)["applied"] if text else []

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df = batch_df.select(id_col, text_col).persist()
        if batch_df.count() == 0:
            batch_df.unpersist()
            return
        bucketed = store_table is not None
        table_exists = bucketed and sp.catalog.tableExists(store_table)
        if table_exists:
            store = (sp.table(store_table)
                     .filter(F.col("batch_id") != batch_id)
                     .select("band", "key", "id"))
        elif not bucketed:
            fs, store_path, _ = _fs_for(sp, store_dir)
            if fs.exists(store_path):
                store = (sp.read.parquet(store_dir)
                         .filter(F.col("batch_id") != batch_id)
                         .select("band", "key", "id"))
            else:
                store = sp.createDataFrame([], "band int, key long, id long")
        else:   # bucketed form, first batch — empty store
            store = sp.createDataFrame([], "band int, key long, id long")
        dfs, docs_path, _ = _fs_for(sp, docs_dir)
        if dfs.exists(docs_path):
            corpus = (sp.read.parquet(docs_dir)
                      .filter(F.col("batch_id") != batch_id)
                      .select(id_col, text_col))
        else:
            corpus = sp.createDataFrame(
                [], batch_df.select(id_col, text_col).schema)
        pairs = incremental_minhash_dedup(
            batch_df, corpus, store_dir, id_col=id_col, text_col=text_col,
            threshold=threshold, bands=bands, rows=rows, exact_grams=True,
            update_store=not bucketed, store_df=store,
            store_batch_id=batch_id,
            store_table=store_table if table_exists else None)
        with dynamic_overwrite(sp):
            (pairs.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite").partitionBy("batch_id")
             .parquet(pairs_dir))
        # verified pairs are checkpoint-backed since round 9 — release the
        # blocks per batch instead of leaving them to driver GC (a
        # long-running stream accumulates one block set per microbatch)
        from ..operators.dedup import release_checkpoint
        release_checkpoint(pairs)
        if bucketed and batch_id not in read_applied():
            from ..operators.dedup import signature_band_entries
            entries = (signature_band_entries(
                batch_df, id_col, text_col, n=5, num_hashes=bands * rows,
                bands=bands, rows=rows)
                .withColumn("batch_id", F.lit(batch_id)))
            (entries.write.mode("append")
             .bucketBy(store_bucket_by, "key").sortBy("key")
             .option("path", store_dir).format("parquet")
             .saveAsTable(store_table))
            applied = sorted(read_applied() + [batch_id])
            _fs_write_text(applied_path, json.dumps({"applied": applied}))
            if compact_every and len(applied) % compact_every == 0:
                from ..operators.dedup import (
                    compact_bucketed_store_if_needed,
                )
                compact_bucketed_store_if_needed(
                    sp, store_table,
                    max_files_per_bucket=compact_max_files_per_bucket,
                    verify_counts=False)
        with dynamic_overwrite(sp):
            (batch_df.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite").partitionBy("batch_id")
             .parquet(docs_dir))
        batch_df.unpersist()

    return handle_batch


def start_paragraph_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    max_files_per_trigger: int = 4,
    docs_schema: str = "doc_id long, text string",
):
    """Streaming cross-document paragraph dedup — the continuous form of
    ``operators.curation.incremental_dedup_paragraphs``: each micro-batch
    of documents drops every paragraph already in the persisted paragraph
    store (plus its own non-first repeats), writes the cleaned documents
    under ``out_dir/batch_id=<n>/``, and appends its surviving new
    paragraphs to the store so the NEXT micro-batch — and any batch job —
    sees them. All state lives in storage (no unbounded streaming state);
    resume needs only the checkpoint.

    ``source_dir`` must hold parquet files at its TOP level (the layout
    every file-source stream here uses — append files, don't nest
    per-chunk directories: Spark's file stream source discovers nested
    dirs nondeterministically)."""
    handle_batch = make_paragraph_dedup_handler(
        store_dir, out_dir, id_col=id_col, text_col=text_col, sep=sep,
        min_chars=min_chars)
    stream = (spark.readStream.schema(docs_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    return (stream.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append").start())


def make_paragraph_dedup_handler(
    store_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
):
    """foreachBatch handler for streaming paragraph dedup, exposed
    standalone so replay/crash recovery is directly testable (the
    incremental-dedup handler's protocol, applied to the paragraph store):

    - the paragraph store is ``batch_id``-partitioned and written with
      dynamic partition overwrite — a re-delivered batch REPLACES exactly
      its own partition, never duplicating store rows;
    - the probe reads the store EXCLUDING the replaying batch's own
      partition (partition-pruned filter), so rows written by a failed
      earlier attempt of this batch cannot dedup the batch against itself;
    - the cleaned-docs output is ``out_dir/batch_id=<n>/`` dynamic
      overwrite — replay rewrites the same rows;
    - the store dir's existence is checked through the Hadoop FS API
      before reading, so the first micro-batch (no store yet) and a crash
      between the two writes both replay cleanly from any point."""
    from ..operators.curation import incremental_dedup_paragraphs

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df = batch_df.select(id_col, text_col).persist()
        if batch_df.count() == 0:
            batch_df.unpersist()
            return
        fs, store_path, _ = _fs_for(sp, store_dir)
        if fs.exists(store_path):
            store = (sp.read.parquet(store_dir)
                     .filter(F.col("batch_id") != batch_id)
                     .select("phash", "para"))
        else:
            store = sp.createDataFrame([], "phash long, para string")
        cleaned = incremental_dedup_paragraphs(
            batch_df, store_dir, id_col=id_col, text_col=text_col, sep=sep,
            min_chars=min_chars, update_store=True, store_batch_id=batch_id,
            store_df=store)
        with dynamic_overwrite(sp):
            (cleaned.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite").partitionBy("batch_id")
             .parquet(out_dir))
        batch_df.unpersist()

    return handle_batch
