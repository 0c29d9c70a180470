"""Structured Streaming: only what a batch operator cannot do on a stream.

The north rule is batch-with-resume. Every stateless batch operator — a
per-row projection, a literal-table lookup or a stream-static join — runs
unchanged on a streaming DataFrame, so it has no twin here: call it on
the stream. ``parse_enrich_route(stream)``, ``quality_signals(stream)``,
``gopher_filters``, ``quality_classifier``, ``langid_trigram``,
``lm_quality`` (offline vocab), ``redact_pii``, ``contamination_counts``,
``fuzzy_contamination_scores``, ``bm25_score``, ``dsir_score`` and
``repeat_epochs(stream.withColumn("stratum", s), plan)`` each have a
stream-vs-batch parity test in tests/test_streaming.py. Read the stream
with ``sources.stream_transcripts``.

This module holds the rest:

- watermarks: tumbling/session windows and watermark-bounded dedup
  (windowed_sink_counts, session_counts, stream_dedup_exact,
  stream_incremental_dedup, stream_bloom_dedup);
- state stores carried across micro-batches (stream_stratified_quota,
  stateful_conv_progress);
- foreachBatch fan-out with a batch_id-keyed idempotent write (dynamic
  partition overwrite), which upgrades foreachBatch's native
  at-least-once to exactly-once per sink directory under replay;
- the memory-sink drain (run_stream_once);
- stream_semantic_decontaminate, whose batch operator ends in an orderBy
  that append-mode streams reject.

Scale notes: the parse stage stays shuffle-free per micro-batch; windowed
aggregates carry state keyed by (window, keys) with watermark-based
eviction; skewed conv_id sessions fall under the same salting guidance as
batch (pre-aggregate by (key, salt) inside foreachBatch when needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ngxspark.dedup import BLOOM_K, BLOOM_M_BITS, bloom_bitmap, bloom_probe
from ngxspark.route import SINK_COL


def windowed_sink_counts(
    routed: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts per sink — late rows beyond the
    watermark are dropped deterministically."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(SINK_COL))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), SINK_COL, "cnt")
    )


def session_counts(
    routed: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per conversation (built-in session_window state op):
    a session closes after ``gap`` of inactivity."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("turns"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "conv_id",
            "turns",
        )
    )


def stream_dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content fingerprint was
    already seen within the watermark horizon
    (dropDuplicatesWithinWatermark — state for a fingerprint is evicted
    once the watermark passes it, so state size is bounded by the horizon's
    row count, not the stream's). The fingerprint is the same md5
    content hash the batch dedup_exact keys on, so batch and stream agree
    on what counts as a duplicate."""
    return (
        df.withColumn("_fp", F.md5(F.col(text_col)))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def stream_incremental_dedup(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of dedup.incremental_dedup: continuously accept only
    content never seen before — neither in the accepted CORPUS (static
    digest index side of a stream-static left_anti join; at scale the
    pre-materialized append-only index table) nor earlier in the STREAM
    (dropDuplicatesWithinWatermark on the md5 digest; state evicted past
    the watermark horizon, so memory is bounded by the horizon's distinct
    digests).

    Batch-parity contract (test_stream_incremental_dedup_matches_batch):
    the SURVIVING DIGEST SET is identical to the batch operator's —
    set(batch digests) − set(corpus digests), one survivor per digest.
    WHICH duplicate survives differs by design: batch keeps min id
    (deterministic, order-free), the stream keeps first ARRIVAL (the only
    well-defined notion of "first" on an unbounded stream)."""
    corpus_hashes = corpus_df.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    return (
        stream_df.withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .join(corpus_hashes, "_h", "left_anti")
        .select(F.col(id_col), F.col("_h").alias("text_hash"))
    )


def stream_bloom_dedup(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of dedup.bloom_incremental_dedup: the corpus Bloom
    bitmap is STATIC (broadcast, <= m_bits/32 rows — at scale maintained
    append-only as batches are accepted), so the probe is a stateless
    stream-static broadcast join chain; within-stream dedup is the same
    watermark-bounded digest state as stream_incremental_dedup.

    Batch-parity contract (test_stream_bloom_dedup_matches_batch): the
    surviving digest set equals the batch operator's exactly — the Bloom
    probe is a pure function of the digest, so stream/batch can only
    differ in WHICH copy of a digest survives (first arrival vs min id),
    never in the set."""
    bitmap = bloom_bitmap(corpus_df, m_bits, k, text_col)
    first = (
        stream_df.withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .select(id_col, "_h")
    )
    return (
        bloom_probe(first, bitmap, m_bits, k)
        .filter(F.col("_hits") < k)
        .select(F.col(id_col), F.col("_h").alias("text_hash"))
    )


STRAT_QUOTA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("stratum", T.LongType()),
        T.StructField("rank", T.LongType()),
    ]
)

_STRAT_STATE_SCHEMA = T.StructType([T.StructField("taken", T.LongType())])


def make_stratified_quota_fn(quota: int):
    """applyInPandasWithState update fn: per-stratum running admission
    count; admit arriving rows while the count is below quota (exposed
    for unit tests)."""
    import pandas as pd

    def update(key, pdfs, state):
        (stratum,) = key
        taken = state.get[0] if state.exists else 0
        frames = []
        for pdf in pdfs:
            room = quota - taken
            if room <= 0:
                continue  # must keep draining the iterator contract
            take = pdf.iloc[:room]
            if len(take):
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": take["doc_id"].astype("int64"),
                            "stratum": stratum,
                            "rank": range(taken + 1, taken + len(take) + 1),
                        }
                    )
                )
                taken += len(take)
        state.update((taken,))
        if frames:
            yield pd.concat(frames)

    return update


def stream_stratified_quota(
    stream_df: DataFrame, stratum, quota: int, id_col: str = "doc_id"
) -> DataFrame:
    """Streaming twin of textops.stratified_sample: cap admissions per
    stratum at ``quota`` with state carried ACROSS micro-batches
    (applyInPandasWithState keyed on the stratum; state = one running
    count per stratum, O(#strata) memory at any corpus size).

    Selection-order contract: the batch operator picks the quota by
    md5(id) total order (reproducible, partitioning-invariant); a stream
    cannot rank rows it has not seen, so the streaming twin admits by
    ARRIVAL order — the standard reservoir-free streaming quota. What IS
    shared, and tested (test_stream_stratified_quota_caps_across_batches):
    per-stratum admissions never exceed quota, every stratum fills to
    min(quota, arrivals), ranks are contiguous 1..n across micro-batch
    boundaries, and admitted rows are a subset of arrivals."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream_df.withColumn("stratum", stratum)
        .select(F.col(id_col).alias("doc_id"), "stratum")
        .groupBy("stratum")
        .applyInPandasWithState(
            make_stratified_quota_fn(quota),
            STRAT_QUOTA_SCHEMA,
            _STRAT_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_once(stream_df: DataFrame, name: str, outputMode: str) -> DataFrame:
    """Drain all available input into a memory sink (tests/dev); returns
    the result table as a batch DataFrame.

    outputMode is REQUIRED on purpose: for watermarked aggregations,
    'append' emits only watermark-closed windows — when the availableNow
    stream ends, the final watermark horizon of windows silently never
    emits. Use 'complete' to see every window, 'append' for non-aggregated
    row streams."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


CONV_PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

_CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("turns", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)


def make_conv_progress_fn(timeout_ms: int):
    """The applyInPandasWithState update function (exposed for unit tests
    of the timeout branch, which a drain-and-stop stream can't reach)."""
    import pandas as pd

    def update(key, pdfs, state):
        (conv_id,) = key
        if state.hasTimedOut:
            turns, max_idx = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "turns": [turns], "max_turn_idx": [max_idx],
                 "closed": [True]}
            )
            return
        turns, max_idx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            turns += len(pdf)
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, max_idx))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"conv_id": [conv_id], "turns": [turns], "max_turn_idx": [max_idx],
             "closed": [False]}
        )

    return update


def stateful_conv_progress(stream_df: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-conversation turn counter — the shape built-in windows can't
    express (state keyed on conv_id alone, emission on BOTH update and
    timeout, arbitrary Python state logic).

    Emits a snapshot row per micro-batch per active conversation. With
    ``timeout_ms > 0`` (continuous-mode deployments), a conversation idle
    past that processing time emits a final ``closed=true`` row and frees
    its state — bounding memory to O(active conversations) at 10^9-conv
    scale. Leave 0 for drain-and-stop (availableNow) runs: pending
    processing-time timeouts keep an availableNow query alive firing empty
    micro-batches until every timeout has been serviced."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    return (
        stream_df.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_conv_progress_fn(timeout_ms),
            CONV_PROGRESS_SCHEMA,
            _CONV_STATE_SCHEMA,
            "update",
            timeout_conf,
        )
    )


def idempotent_batch_writer(base_path: str):
    """foreachBatch writer that is safe under micro-batch REPLAY: output is
    keyed on ``_batch_id`` with dynamic partition overwrite, so a replayed
    batch overwrites its own partitions instead of appending duplicates."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", SINK_COL)
            .parquet(base_path)
        )

    return write_batch


def run_stream_fanout(
    routed: DataFrame, base_path: str, checkpoint: str
) -> None:
    """Fan-out sinks from a stream, exactly-once per output directory.

    foreachBatch is only at-least-once: a failure between the write and
    the checkpoint commit replays the micro-batch. The batch_id-keyed
    idempotent writer upgrades that to exactly-once output."""
    q = (
        routed.writeStream.foreachBatch(idempotent_batch_writer(base_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_semantic_decontaminate(
    stream_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """simsearch.semantic_decontaminate without its final orderBy, which
    append-mode streams reject. The bounded benchmark set is collected
    ONCE to the driver (only the corpus streams); the rows are the batch
    operator's stateless projection (simsearch._contamination_flags), so
    stream and batch run one code path
    (test_stream_semantic_decontaminate_matches_batch)."""
    from ngxspark.simsearch import _contamination_flags, _eval_matrix

    E = _eval_matrix(eval_df, vec_col)
    if E.shape[0] == 0:
        raise ValueError("eval_df is empty — nothing to decontaminate against")
    return _contamination_flags(stream_df, E, threshold, id_col, vec_col)
