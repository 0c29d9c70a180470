"""Structured Streaming pipeline tests: stream results ≡ batch results.

Stateless batch operators run on the streaming DataFrame as they are;
each has a test here that drains it over several micro-batches and
compares the rows with the same operator on the batch frame."""

import pytest
from pyspark.sql import functions as F

from ngxspark.gen import write_transcripts
from ngxspark.pipeline import parse_enrich_route
from ngxspark.sources import TRANSCRIPT_SCHEMA, stream_transcripts
from ngxspark.streaming import (
    run_stream_fanout,
    run_stream_once,
    session_counts,
    stream_dedup_exact,
    windowed_sink_counts,
)

N = 3000


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "transcripts")
    write_transcripts(spark, p, N, n_files=8)
    return p


def test_stream_counts_equal_batch(spark, corpus_path):
    # maxFilesPerTrigger=2 → multiple micro-batches (stateful windows merge
    # across batches); complete mode emits every window for full equality
    routed = parse_enrich_route(stream_transcripts(spark, corpus_path, max_files=2))
    got = run_stream_once(windowed_sink_counts(routed), name="wsc", outputMode="complete")
    batch_routed = parse_enrich_route(spark.read.parquet(corpus_path))
    batch = (
        batch_routed.groupBy(F.window("ts", "1 hour").alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "sink", "cnt")
    )
    got_rows = {(r.window_start, r.sink): r.cnt for r in got.collect()}
    batch_rows = {(r.window_start, r.sink): r.cnt for r in batch.collect()}
    assert got_rows == batch_rows


def test_session_windows(spark, corpus_path):
    routed = parse_enrich_route(stream_transcripts(spark, corpus_path))
    got = run_stream_once(
        session_counts(routed, gap="30 minutes"), name="sess", outputMode="complete"
    )
    rows = got.collect()
    assert rows
    assert all(r.turns >= 1 and r.session_end > r.session_start for r in rows)


def test_stream_fanout_resumable(spark, corpus_path, tmp_path):
    routed = parse_enrich_route(stream_transcripts(spark, corpus_path))
    out, ckpt = str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    run_stream_fanout(routed, out, ckpt)
    back = spark.read.parquet(out)
    assert back.count() == N
    # restart with the same checkpoint: no new input → no duplicate rows
    routed2 = parse_enrich_route(stream_transcripts(spark, corpus_path))
    run_stream_fanout(routed2, out, ckpt)
    assert spark.read.parquet(out).count() == N


def test_fanout_write_is_replay_idempotent(spark, corpus_path, tmp_path):
    """Simulated mid-batch failure: foreachBatch re-delivers the SAME
    micro-batch (same batch_id) after a partial write — the batch_id-keyed
    dynamic-overwrite writer must not duplicate rows."""
    from ngxspark.streaming import idempotent_batch_writer

    out = str(tmp_path / "replay")
    batch = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus_path)
    batch_routed = parse_enrich_route(batch)
    writer = idempotent_batch_writer(out)
    writer(batch_routed, 0)
    n1 = spark.read.parquet(out).count()
    writer(batch_routed, 0)  # replay of batch 0
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0
    # a NEW batch id appends (its own partition), not overwrites others
    writer(batch_routed.limit(5), 1)
    back = spark.read.parquet(out)
    assert back.count() == n1 + 5
    assert set(r._batch_id for r in back.select("_batch_id").distinct().collect()) == {0, 1}


def test_stateful_conv_progress(spark, corpus_path):
    """applyInPandasWithState custom operator: the last emitted snapshot
    per conversation must equal the batch groupBy ground truth."""
    from ngxspark.streaming import stateful_conv_progress

    stream = stream_transcripts(spark, corpus_path, max_files=8)
    snap = run_stream_once(stateful_conv_progress(stream), "conv_progress", "update")
    # several snapshots per conv (one per micro-batch) — keep the max
    final = {
        r.conv_id: (r.turns, r.max_turn_idx)
        for r in snap.groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("max_turn_idx").alias("max_turn_idx"))
        .collect()
    }
    batch = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus_path)
    truth = {
        r.conv_id: (r.cnt, r.mx)
        for r in batch.groupBy("conv_id")
        .agg(F.count("*").alias("cnt"), F.max("turn_idx").alias("mx"))
        .collect()
    }
    assert final == truth


def test_conv_progress_timeout_branch_unit():
    """The closed=true timeout path, unit-tested with a fake GroupState
    (an availableNow stream can't reach processing-time timeouts without
    idling the query open)."""
    from ngxspark.streaming import make_conv_progress_fn

    class FakeState:
        def __init__(self, value, timed_out):
            self._v, self.hasTimedOut, self.removed = value, timed_out, False
            self.exists = value is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = make_conv_progress_fn(timeout_ms=5000)
    st = FakeState((7, 12), timed_out=True)
    [out] = list(fn(("conv-1",), iter([]), st))
    assert st.removed
    assert out.iloc[0]["closed"] and out.iloc[0]["turns"] == 7 and out.iloc[0]["max_turn_idx"] == 12

    import pandas as pd

    st2 = FakeState(None, timed_out=False)
    [out2] = list(fn(("conv-2",), iter([pd.DataFrame({"turn_idx": [0, 1, 2]})]), st2))
    assert st2._v == (3, 2) and st2.timeout_set == 5000
    assert not out2.iloc[0]["closed"] and out2.iloc[0]["turns"] == 3


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup agrees with batch dedup on what a duplicate
    is: 3 copies of each of 100 texts spread over 5 h of event time and
    multiple micro-batches; a watermark covering the span drops every
    duplicate; exactly one representative of each text survives."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (f"c{i}", i, "user", f"text-{i % 100}", None, base + datetime.timedelta(minutes=i))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    p = str(tmp_path / "dd")
    df.repartition(6).write.parquet(p)

    stream = stream_transcripts(spark, p, max_files=2)
    got = run_stream_once(
        stream_dedup_exact(stream, watermark="6 hours"), name="sdd", outputMode="append"
    )
    texts = [r.text for r in got.collect()]
    assert len(texts) == 100
    assert sorted(texts) == sorted(f"text-{i}" for i in range(100))


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stateless streaming decontamination (literal bench-key set, no
    shuffle) over micro-batches == the batch broadcast-join operator."""
    from ngxspark.textops import benchmark_gram_keys, contamination_counts, decontaminate

    bench_text = " ".join(f"b{i}" for i in range(15))
    bench = spark.createDataFrame([(900, bench_text)], "doc_id long, text string")
    docs = [(i, f"filler{i} " * 5 + (bench_text if i % 7 == 0 else f"clean words {i}"))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    p = str(tmp_path / "docs")
    df.repartition(6).write.parquet(p)

    keys = benchmark_gram_keys(bench)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 2
    ).parquet(p)
    got = run_stream_once(
        contamination_counts(stream, keys), name="sdec", outputMode="append"
    )
    got_rows = {(r.doc_id, r.n_hit_grams, r.contaminated) for r in got.collect()}
    batch_rows = {
        (r.doc_id, r.n_hit_grams, r.contaminated)
        for r in decontaminate(df, bench, ordered=False).collect()
    }
    assert got_rows == batch_rows
    assert any(c for _, _, c in got_rows) and not all(c for _, _, c in got_rows)


def test_stream_redact_pii_matches_batch(spark, tmp_path):
    """redact_pii is a pure projection — it runs unchanged on a stream."""
    from ngxspark.textops import redact_pii

    docs = [
        (i, f"user{i} mail u{i}@x.io ip 10.0.0.{i} phone 555-123-4567" if i % 3 == 0
         else f"clean {i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    p = str(tmp_path / "pii")
    df.repartition(4).write.parquet(p)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = {(r.doc_id, r.redacted, r.n_email, r.n_ip, r.n_phone)
           for r in run_stream_once(redact_pii(stream), name="spii", outputMode="append").collect()}
    batch = {(r.doc_id, r.redacted, r.n_email, r.n_ip, r.n_phone)
             for r in redact_pii(df).collect()}
    assert got == batch
    assert any("<EMAIL>" in r for _, r, *_ in got)


def test_stream_repeat_factor_matches_batch(spark, tmp_path):
    """Recipe-table epoch upsampling is a pure function of (id, stratum,
    plan) — stream over micro-batches must equal the batch operator
    ROW-FOR-ROW on the same corpus and plan, including multi-epoch and
    dropped docs."""
    from ngxspark.textops import (
        _temperature_quota_table,
        repeat_epochs,
        repeat_plan,
    )

    docs = [(i, f"doc {i}") for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stratum = (F.col("doc_id") % 3).cast("long")
    staged = df.withColumn("stratum", stratum)
    # train the recipe once (budget 2× corpus → multi-epoch regimes),
    # persist it as a plain table like production would
    plan = repeat_plan(_temperature_quota_table(staged, 240, 2.0, 10**9))
    plan_rows = plan.collect()
    plan_static = spark.createDataFrame(plan_rows, plan.schema)

    p = str(tmp_path / "rfdocs")
    df.repartition(5).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 2
    ).parquet(p)
    got = {
        (r.doc_id, r.stratum, r.epoch)
        for r in run_stream_once(
            repeat_epochs(stream.withColumn("stratum", stratum), plan_static),
            name="srf",
            outputMode="append",
        ).collect()
    }
    batch = {
        (r.doc_id, r.stratum, r.epoch)
        for r in repeat_epochs(staged, plan_static).collect()
    }
    assert got == batch
    assert max(e for _, _, e in got) >= 2  # multi-epoch regime exercised
    assert len({d for d, _, _ in got}) < 120 or len(got) > 120


def test_stream_incremental_dedup_matches_batch(spark, tmp_path):
    """Streaming incremental dedup == batch on the SURVIVING DIGEST SET:
    set(batch digests) − set(corpus digests), one survivor per digest,
    with in-stream duplicates collapsed across micro-batches (state) and
    corpus-known content rejected via the stream-static anti join."""
    import datetime

    from ngxspark.dedup import incremental_dedup
    from ngxspark.streaming import stream_incremental_dedup

    ts = datetime.datetime(2026, 1, 1)
    corpus = spark.createDataFrame(
        [(100 + i, f"known-{i % 5}") for i in range(10)], "doc_id long, text string"
    )
    # new batch: fresh content (some duplicated in-stream), some corpus-known
    new_rows = [
        (i, f"fresh-{i % 7}" if i % 3 else f"known-{i % 5}", ts) for i in range(40)
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string, ts timestamp")
    p = str(tmp_path / "inc")
    new_df.repartition(5).write.parquet(p)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        stream_incremental_dedup(stream, corpus), name="sinc", outputMode="append"
    ).collect()
    batch = incremental_dedup(new_df, corpus).collect()

    assert {r.text_hash for r in got} == {r.text_hash for r in batch}
    # one survivor per digest (cross-micro-batch state collapses dups)
    assert len(got) == len({r.text_hash for r in got}) == len(batch)
    # survivors are real arrivals, never corpus rows
    arrivals = {r[0] for r in new_rows}
    assert all(r.doc_id in arrivals for r in got)


def test_stream_unimax_recipe_matches_batch(spark, tmp_path):
    """A UniMax quota table flows through the SAME recipe kernel as
    repeat_factor_mix (repeat_epochs is recipe-agnostic): batch
    unimax_mix == streamed epochs from the same plan."""
    from ngxspark.textops import repeat_epochs, repeat_plan, unimax_mix, unimax_quota_table

    rows = [(i, "tiny doc") for i in range(5)] + [
        (100 + i, "big stratum doc " + "x " * 30) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stratum = F.floor(F.length("text") / 20).cast("long")
    staged = df.withColumn("stratum", stratum)
    plan_static = repeat_plan(unimax_quota_table(staged, n_total=100, max_epochs=4))

    p = str(tmp_path / "unimax")
    df.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = {
        (r.doc_id, r.stratum, r.epoch)
        for r in run_stream_once(
            repeat_epochs(stream.withColumn("stratum", stratum), plan_static),
            name="sunimax",
            outputMode="append",
        ).collect()
    }
    batch = {
        (r.doc_id, r.stratum, r.epoch)
        for r in unimax_mix(df, stratum, n_total=100, max_epochs=4).collect()
    }
    assert got == batch


def test_stream_bloom_dedup_matches_batch(spark, tmp_path):
    """Streaming Bloom dedup == batch on the surviving digest set: the
    probe is a pure digest function, so FPs fall on the same digests in
    both modes; the tiny filter (m=512) makes FPs likely, exercising the
    parity where it bites."""
    import datetime

    from ngxspark.dedup import bloom_incremental_dedup
    from ngxspark.streaming import stream_bloom_dedup

    ts = datetime.datetime(2026, 1, 1)
    corpus = spark.createDataFrame(
        [(100 + i, f"known-{i % 5}") for i in range(10)], "doc_id long, text string"
    )
    new_rows = [
        (i, f"fresh-{i % 7}" if i % 3 else f"known-{i % 5}", ts) for i in range(40)
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string, ts timestamp")
    p = str(tmp_path / "bloom")
    new_df.repartition(5).write.parquet(p)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        stream_bloom_dedup(stream, corpus, m_bits=512, k=3),
        name="sbloom",
        outputMode="append",
    ).collect()
    batch = bloom_incremental_dedup(new_df, corpus, m_bits=512, k=3).collect()

    assert {r.text_hash for r in got} == {r.text_hash for r in batch}
    assert len(got) == len({r.text_hash for r in got}) == len(batch)


def test_stream_quality_signals_matches_batch(spark, tmp_path):
    """Signal extraction at ingest: the stateless one-pass signal table
    over a micro-batched stream is row-identical to batch."""
    from ngxspark.textops import quality_signals

    docs = spark.createDataFrame(
        [(i, f"the doc {i % 5} body words and more text {i}") for i in range(20)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "qsig")
    docs.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        quality_signals(stream), name="sqsig", outputMode="append"
    ).collect()
    assert sorted(got) == sorted(quality_signals(docs).collect())


def test_stream_gopher_filters_matches_batch(spark, tmp_path):
    """Gopher verdicts at ingest: the stateless rule battery over a
    micro-batched stream is row-identical to batch, including the
    boundary rows each side of the word-count band."""
    from ngxspark.textops import gopher_filters

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"word{j % 7} the and of" for j in range(3 + i * 2)))
            for i in range(18)
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "gopher")
    docs.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        gopher_filters(stream, min_words=10), name="sgoph",
        outputMode="append",
    ).collect()
    assert sorted(got) == sorted(gopher_filters(docs, min_words=10).collect())


def test_stream_bm25_score_matches_batch(spark, tmp_path):
    """Streaming BM25 scoring with offline corpus stats is row-identical
    to the batch projection, and the batch projection agrees with the
    in-plan bm25_topk gate query on every ranked (query, doc) score."""
    from ngxspark.retrieval import bm25_score, bm25_stats, bm25_topk

    corpus = spark.createDataFrame(
        [
            (i, "spark join hash" if i % 3 == 0 else "merge sort line dup")
            for i in range(24)
        ],
        "doc_id long, text string",
    )
    queries = {1: ["spark", "join"], 2: ["dup", "line"]}
    stats = bm25_stats(corpus, sorted({t for ts in queries.values() for t in ts}))

    p = str(tmp_path / "bm25")
    corpus.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        bm25_score(stream, stats, queries), name="sbm25", outputMode="append"
    ).collect()
    batch = bm25_score(corpus, stats, queries).collect()
    assert sorted(got) == sorted(batch)

    ranked = bm25_topk(corpus, queries, k=50).collect()
    offline = {(r.query_id, r.doc_id): r.score_scaled for r in batch}
    assert ranked and all(
        offline[(r.query_id, r.doc_id)] == r.score_scaled for r in ranked
    )


def test_stream_dsir_score_matches_batch(spark, tmp_path):
    """Streaming DSIR scoring with offline log-ratios is row-identical to
    the batch pass-2 projection (no state, no watermark)."""
    from ngxspark.textops import dsir_logratios, dsir_score

    pool = spark.createDataFrame(
        [(i, f"doc body {i % 6} words {i % 4}") for i in range(30)],
        "doc_id long, text string",
    )
    target = pool.filter(F.col("doc_id") % 3 == 0)
    lam = dsir_logratios(pool, target)

    p = str(tmp_path / "dsir")
    pool.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        dsir_score(stream, lam), name="sdsir", outputMode="append"
    ).collect()
    batch = dsir_score(pool, lam).collect()
    assert sorted(got) == sorted(batch)


def test_stream_stratified_quota_caps_across_batches(spark, tmp_path):
    """Per-stratum admissions: capped at quota, filled to min(quota,
    arrivals), ranks contiguous 1..n ACROSS micro-batch boundaries (the
    state-continuity property), admitted rows ⊆ arrivals."""
    from pyspark.sql import functions as F

    from ngxspark.streaming import stream_stratified_quota

    # stratum 0: 30 arrivals (> quota); stratum 1: 3 arrivals (< quota)
    docs = [(i, 0 if i % 2 == 0 else (1 if i < 6 else 0)) for i in range(33)]
    df = spark.createDataFrame(docs, "doc_id long, s long")
    p = str(tmp_path / "strat")
    df.repartition(6).write.parquet(p)  # several files → several micro-batches

    stream = spark.readStream.schema("doc_id long, s long").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        stream_stratified_quota(stream, F.col("s"), quota=8),
        name="squota",
        outputMode="update",  # applyInPandasWithState(update) requires it
    ).collect()
    per = {}
    for r in got:
        per.setdefault(r.stratum, []).append(r)
    arrivals_per = {0: sum(1 for _, s in docs if s == 0), 1: sum(1 for _, s in docs if s == 1)}
    for stratum, rows in per.items():
        assert len(rows) == min(8, arrivals_per[stratum])
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
        ids = {r.doc_id for r in rows}
        assert ids <= {i for i, s in docs if s == stratum}
    assert set(per) == {0, 1}


def test_stream_stratified_quota_state_survives_restart(spark, tmp_path):
    """The per-stratum admission count must live in the CHECKPOINT, not
    the process: stop after draining batch A, append batch B, restart
    from the same checkpoint — if state were lost, the second run would
    admit a fresh quota (ranks 1..6 again); recovered state means the
    two runs together admit exactly `quota` rows with globally unique
    contiguous ranks."""
    import glob

    from pyspark.sql import functions as F

    from ngxspark.streaming import stream_stratified_quota

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(i,) for i in range(4)], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("doc_id long").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        quota = stream_stratified_quota(stream, F.lit(0).cast("long"), quota=6)
        q = (
            quota.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # admits 4 (all of batch A; quota 6 not yet reached)
    first = spark.read.parquet(out).collect()
    assert len(first) == 4 and sorted(r.rank for r in first) == [1, 2, 3, 4]
    spark.createDataFrame([(i,) for i in range(10, 20)], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()  # recovered taken=4 → admits exactly 2 more, ranks 5..6
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 6, f"state lost across restart: {len(rows)} admitted"
    assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5, 6]
    assert len(glob.glob(f"{ckpt}/state/*")) >= 1  # state store materialized


def test_stream_quality_classifier_matches_batch(spark, tmp_path):
    """quality_classifier is a pure projection (literal weight table,
    zero shuffles) — it runs unchanged on a stream."""
    from ngxspark.textops import quality_classifier

    docs = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(1 + i % 9)))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    p = str(tmp_path / "qc")
    df.repartition(4).write.parquet(p)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = {(r.doc_id, r.n_feats, r.logit, r.label)
           for r in run_stream_once(
               quality_classifier(stream), name="sqc", outputMode="append"
           ).collect()}
    batch = {(r.doc_id, r.n_feats, r.logit, r.label)
             for r in quality_classifier(df).collect()}
    assert got == batch
    labels = {l for *_, l in got}
    assert labels == {"keep", "drop"}


def test_stream_lm_quality_scores_with_offline_vocab(spark, tmp_path):
    """CCNet production shape: LM trained OFFLINE on a batch corpus
    (lm_vocab_logprobs), the stream scored with the literal vocab — a
    pure projection, batch-equivalent on the same rows."""
    from ngxspark.textops import lm_quality, lm_vocab_logprobs

    docs = [(i, " ".join(f"w{(i + j) % 11}" for j in range(4 + i % 6)) +
             (" rareword" if i % 5 == 0 else ""))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    p = str(tmp_path / "lmq")
    df.repartition(4).write.parquet(p)

    vocab = lm_vocab_logprobs(df, top_k=8)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = {(r.doc_id, r.n_tokens, r.avg_nll, r.bucket)
           for r in run_stream_once(
               lm_quality(stream, vocab=vocab, head_cutoff=2.4, tail_cutoff=3.0),
               name="slmq", outputMode="append",
           ).collect()}
    batch = {(r.doc_id, r.n_tokens, r.avg_nll, r.bucket)
             for r in lm_quality(df, vocab=vocab, head_cutoff=2.4, tail_cutoff=3.0).collect()}
    assert got == batch
    assert len({b for *_, b in got}) >= 2  # cutoffs split the corpus


def test_stream_fuzzy_decontaminate_matches_batch(spark, tmp_path):
    """fuzzy_contamination_scores with the offline benchmark index runs on
    a stream unchanged (no state, no watermark — a pure projection per
    micro-batch): row-identical to the same operator on the batch frame
    and to the batch broadcast-join operator fuzzy_decontaminate."""
    from ngxspark.dedup import (
        contamination_index,
        fuzzy_contamination_scores,
        fuzzy_decontaminate,
    )

    bench = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j k l")],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [(100, "a b c d e f g h i j")]
        + [(200 + i, f"filler words number {i} about nothing {i}") for i in range(12)],
        "doc_id long, text string",
    )
    idx = contamination_index(bench)
    p = str(tmp_path / "fuzzy")
    pool.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        fuzzy_contamination_scores(stream, idx), name="sfuzzy", outputMode="append"
    ).collect()
    assert sorted(got) == sorted(fuzzy_contamination_scores(pool, idx).collect())
    batch = fuzzy_decontaminate(pool, bench).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in batch)


def test_stream_langid_matches_batch(spark, tmp_path):
    """Trigram language-ID at ingest: literal-profile scoring over a
    micro-batched stream is row-identical to batch, including the
    foreign plants."""
    from ngxspark.textops import LANG_SEEDS, langid_trigram

    seeds = sorted(LANG_SEEDS.values())
    docs = spark.createDataFrame(
        [(i, seeds[i % len(seeds)][: 40 + 7 * (i % 5)]) for i in range(18)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "langid")
    docs.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        langid_trigram(stream), name="slang", outputMode="append"
    ).collect()
    assert sorted(got) == sorted(langid_trigram(docs).collect())


def test_stream_semantic_decontaminate_matches_batch(spark, tmp_path):
    """Embedding decontamination at ingest: scoring a micro-batched
    stream against the broadcast eval matrix is row-identical to the
    batch operator, including the planted exact leak."""
    from ngxspark.simsearch import semantic_decontaminate
    from ngxspark.streaming import stream_semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.25, -0.5, 2.0]), (101, [0.0, 1.5, 0.75, -1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = [(i, [((i * j) % 7) - 3.0 for j in range(1, 5)]) for i in range(1, 13)]
    rows.append((99, [1.0, 0.25, -0.5, 2.0]))  # exact leak of eval 100
    train = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = str(tmp_path / "semdecon")
    train.repartition(3).write.parquet(p)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").option(
        "maxFilesPerTrigger", 1
    ).parquet(p)
    got = run_stream_once(
        stream_semantic_decontaminate(stream, ev, threshold=0.95),
        name="sdecon",
        outputMode="append",
    ).collect()
    want = semantic_decontaminate(train, ev, threshold=0.95).collect()
    assert sorted(got) == sorted(want)
    flagged = [r.vec_id for r in got if r.contaminated == 1]
    assert flagged == [99]


def test_semantic_decontaminate_zero_vectors_match_duckdb(spark, tmp_path):
    """A zero eval vector has no cosine with anything, so the max skips
    it and the exact leak of the other eval vector is still flagged; a
    zero training vector has no cosine either and stays NULL. Batch and
    stream both equal the oracle's DuckDB SQL on the same rows."""
    import duckdb

    from ngxspark.simsearch import semantic_decontaminate
    from ngxspark.streaming import stream_semantic_decontaminate

    schema = "vec_id long, embedding array<float>"
    ev_rows = [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]
    train_rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact leak of eval 100
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to eval 100
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero training vector
    ]

    def values(rows):
        return ", ".join(f"({i}, {v}::DOUBLE[])" for i, v in rows)

    want = duckdb.connect().execute(f"""
        WITH ev AS (SELECT * FROM (VALUES {values(ev_rows)}) t(vec_id, ev)),
        tr AS (SELECT * FROM (VALUES {values(train_rows)}) t(vec_id, tv)),
        s AS (
          SELECT tr.vec_id,
                 max(list_dot_product(tr.tv, ev.ev)
                     / (sqrt(list_dot_product(tr.tv, tr.tv))
                        * sqrt(list_dot_product(ev.ev, ev.ev)))) AS m
          FROM tr, ev GROUP BY tr.vec_id
        )
        SELECT vec_id, round(m, 6) AS max_sim,
               (round(m, 6) >= 0.95)::INT AS contaminated
        FROM s ORDER BY vec_id
    """).fetchall()
    assert want == [(1, 1.0, 1), (2, 0.0, 0), (3, None, None)]

    ev = spark.createDataFrame(ev_rows, schema)
    train = spark.createDataFrame(train_rows, schema)
    batch = semantic_decontaminate(train, ev, threshold=0.95).collect()
    assert [tuple(r) for r in batch] == want
    p = str(tmp_path / "zerovec")
    train.repartition(2).write.parquet(p)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(p)
    got = run_stream_once(
        stream_semantic_decontaminate(stream, ev, threshold=0.95),
        name="sdecon_zero",
        outputMode="append",
    ).collect()
    assert sorted(tuple(r) for r in got) == want


def test_stream_semantic_decontaminate_rejects_empty_eval(spark, tmp_path):
    """The stream form raises on an empty eval set when it is built;
    the batch operator returns no rows instead."""
    from ngxspark.streaming import stream_semantic_decontaminate

    schema = "vec_id long, embedding array<float>"
    p = str(tmp_path / "noeval")
    spark.createDataFrame([(1, [1.0, 0.0])], schema).write.parquet(p)
    stream = spark.readStream.schema(schema).parquet(p)
    empty_ev = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="eval_df is empty"):
        stream_semantic_decontaminate(stream, empty_ev)
