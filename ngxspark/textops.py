"""Text-analysis operators for training-data pipelines over `documents`.

Everything here is pure JVM expressions (whole-stage codegen, no Python):
token counting, quality scoring, language-ID heuristic, fingerprinting.
Hashes use md5 so the DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny English stopword set for the language-ID / quality heuristics
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (single-space split; matches DuckDB string_split)."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_token_count(col: Column) -> Column:
    """BPE-ish regex tokens: words, numbers, or single punctuation marks."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def alpha_ratio(col: Column) -> Column:
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    return alpha / F.greatest(F.length(col), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    alphabetic density. Deterministic, SQL-expressible."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) > 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + stop_ok + alpha_ratio(col)) / 3.0, 4)


def lang_id(col: Column) -> Column:
    """n-gram/stopword heuristic language ID: 'en' when English stopwords
    are present, 'unknown' otherwise (the synthetic corpus is en-only;
    real corpora would extend the dictionary per language)."""
    return F.when(stopword_ratio(col) > 0.01, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the lower-cased, space-normalized text
    (content-defined identity for exact/near-exact dedup)."""
    return F.md5(F.regexp_replace(F.lower(col), r"\s+", " "))


def doc_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        word_token_count(t).alias("n_word_tokens"),
        F.length(t).alias("n_chars_measured"),
        F.round(stopword_ratio(t), 4).alias("stopword_ratio"),
        F.round(alpha_ratio(t), 4).alias("alpha_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def ngram_list(toks: Column, n: int) -> Column:
    """Word n-grams over a (materialized) token-array column (empty-safe:
    fewer than n tokens → empty array)."""
    cnt = F.size(toks) - F.lit(n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_fraction(grams: Column) -> Column:
    """Fraction of n-gram occurrences that repeat an earlier occurrence:
    (total - distinct) / total — the Gopher-style repetition signal (high
    values flag boilerplate / degenerate generations). Pass a
    ``withColumn``-materialized gram array (Catalyst does not CSE it)."""
    total = F.size(grams)
    return F.when(
        total >= 1,
        (total - F.size(F.array_distinct(grams))).cast("double") / total,
    ).otherwise(F.lit(0.0))


def symbol_word_ratio(col: Column, toks: Column) -> Column:
    """Non-alphanumeric, non-space symbols per whitespace token (Gopher
    filters drop docs with high symbol density)."""
    symbols = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return symbols.cast("double") / F.greatest(F.size(toks), F.lit(1))


# Applied in order; patterns are deliberately in the common subset of Java
# regex (Spark) and RE2 (DuckDB oracle): no lookaround, no backreferences,
# unambiguous quantifiers — so leftmost/non-overlapping matching is
# engine-identical.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3,4}-\d{4}\b", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style PII scrub: replace emails, IPv4 literals, and phone-shaped
    digit groups with typed placeholder tokens; per-doc match counts (on
    the ORIGINAL text, per pattern independently) ride along for the
    filter/audit stage. Pure JVM expressions — one scan, no shuffle, no
    UDF; the redacted text keeps byte positions deterministic for both
    engines (replacements applied in the fixed PII_PATTERNS order)."""
    redacted = F.col(text_col)
    for pat, tok in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, tok)
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(name)
        for (pat, _), name in zip(PII_PATTERNS, ("n_email", "n_ip", "n_phone"))
    ]
    return df.select(F.col(id_col), redacted.alias("redacted"), *counts)


def pack_chunks(
    df: DataFrame,
    bin_tokens: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents (in id order,
    within a deterministic shard) into a single token stream and chunk it
    into fixed ``bin_tokens`` windows; emit one row per (doc, bin) overlap
    with the token count the doc contributes to that bin — the exact
    bookkeeping a pretraining data loader needs to pack samples without
    padding waste (docs straddle bin boundaries by design).

    100 TB shape: sharding bounds the window — the cumulative token offset
    is a running sum over (shard, id) only, so the one shuffle partitions
    by shard and each shard's stream is independent; the bin explode is a
    per-row sequence of its covered bins (a doc covers ceil(len/bin)+1
    bins at most), never a cross join.

    ``n_shards`` is a RECIPE parameter, not a tuning freebie: the
    md5(id)%n_shards shard assignment decides which docs share a token
    stream, so the (doc, bin) output is a deterministic function of the
    shard count — two runs must agree on it to agree on the packing
    (pinned by test_pack_chunks_output_is_a_function_of_shard_count).
    Each shard's running sum is one sequential window task, so the
    default 8 hard-bounds parallelism; derive the count from corpus size
    with ``pack_shards_for`` (ceil(corpus_tokens/target_tokens_per_shard))
    and RECORD it with the recipe."""
    from pyspark.sql import Window

    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy(id_col)
    staged = (
        df.select(F.col(id_col), shard, F.size(tokens(F.col(text_col))).alias("n_tokens"))
        .withColumn("_end", F.sum("n_tokens").over(w))
        .withColumn("_off", F.col("_end") - F.col("n_tokens"))
    )
    lo = F.floor(F.col("_off") / bin_tokens)
    hi = F.floor((F.col("_end") - 1) / bin_tokens)
    # a zero-token row (impossible with the space-split tokenizer, which
    # never yields an empty array — but null-handling or tokenizer changes
    # could introduce one) has hi < lo, and F.sequence would silently emit
    # a DESCENDING bogus bin range; guard it to contribute nothing
    covered = F.when(
        F.col("n_tokens") > 0, F.sequence(lo, hi)
    ).otherwise(F.array().cast("array<long>"))
    exploded = staged.withColumn("bin_id", F.explode(covered))
    in_bin = F.least(
        F.col("_end"), (F.col("bin_id") + 1) * bin_tokens
    ) - F.greatest(F.col("_off"), F.col("bin_id") * bin_tokens)
    return exploded.select(
        "shard",
        F.col("bin_id").cast("long").alias("bin_id"),
        F.col(id_col),
        in_bin.cast("long").alias("tokens_in_bin"),
    ).orderBy("shard", "bin_id", id_col)


def pack_shards_for(
    df: DataFrame,
    target_tokens_per_shard: int = 50_000_000,
    text_col: str = "text",
) -> int:
    """Derive pack_chunks' shard count from corpus size: one tiny agg
    action, then ceil(total_tokens / target). Each shard's cumulative
    offset is one sequential window task, so the target bounds per-task
    work (50M whitespace tokens ≈ a few hundred MB of offsets — minutes,
    not hours, per task); a 100 TB corpus lands at tens of thousands of
    shards and full cluster parallelism. The returned count is part of
    the packing RECIPE (see pack_chunks) — record it, don't re-derive it
    on a grown corpus and expect byte-identical bins."""
    total = df.select(
        F.sum(F.size(tokens(F.col(text_col)))).alias("t")
    ).collect()[0].t or 0
    return max(1, -(-int(total) // int(target_tokens_per_shard)))


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    cell_chars: int = 2,
) -> DataFrame:
    """Deterministic global training-order shuffle + sharding — the "data
    ordering" step between curation and tokenization/packing: every doc
    gets a reproducible pseudo-random shard and a 1-based position inside
    it (shard = 32-bit md5(id) prefix mod ``n_shards``; order = full
    lowercase md5(id), ties by id), so ANY engine — this one, a loader,
    the DuckDB oracle — reproduces the exact byte order of every shard
    file without a seed exchange. Epoch-shuffle variants just salt the
    hashed string (``md5(epoch || ':' || id)``); same plan.

    TWO-PHASE position (the 100 TB shape — a window over
    ``partitionBy(shard)`` alone would sort each shard's terabytes on ONE
    task, the exact single-reducer trap stratified_sample had to dodge):
    the order key IS the md5 hex string, so its leading ``cell_chars``
    hex chars split each shard into 16^cell_chars ORDER-ALIGNED cells —
    every hash in cell '0a' sorts before every hash in '0b'. Phase 1
    ranks within (shard, cell): one full shuffle at n_shards × 256-way
    parallelism. Phase 2 turns tiny per-cell counts (n_shards × 256
    rows, aggregated map-side) into prefix offsets with a driver-scale
    window and broadcasts them back: pos = cell offset + in-cell rank.
    The counts come from a SECOND, deliberately separate pass — a
    column-pruned scan of the id column alone with map-side combine, so
    only the count rows ever shuffle. The tempting alternative — one
    repartition(shard, cell) feeding both branches — is strictly worse
    in the plan: the explicit exchange blocks the map-side partial agg
    (counts then ride the full-corpus shuffle) and AQE never reuses the
    stage anyway because column pruning makes the two subplans differ.
    Output is invariant to ``cell_chars`` (pinned by test) — the cells
    are a partition of an already-total order, not a sampling knob."""
    from pyspark.sql import Window

    u = F.md5(F.col(id_col).cast("string"))
    staged = df.select(
        F.col(id_col),
        u.alias("_u"),
        (F.conv(F.substring(u, 1, 8), 16, 10).cast("long") % n_shards).alias(
            "shard_id"
        ),
        F.substring(u, 1, cell_chars).alias("_cell"),
    )
    w_cell = Window.partitionBy("shard_id", "_cell").orderBy("_u", id_col)
    ranked = staged.withColumn("_crk", F.row_number().over(w_cell))
    w_off = (
        Window.partitionBy("shard_id")
        .orderBy("_cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        staged.groupBy("shard_id", "_cell")
        .count()
        .withColumn("_off", F.coalesce(F.sum("count").over(w_off), F.lit(0)))
        .select("shard_id", "_cell", "_off")
    )
    return (
        ranked.join(F.broadcast(offsets), ["shard_id", "_cell"])
        .select(
            F.col(id_col),
            "shard_id",
            (F.col("_off") + F.col("_crk")).cast("long").alias("pos"),
        )
        .orderBy("shard_id", "pos")
    )


def stratified_sample(
    df: DataFrame,
    stratum: Column,
    quota: int,
    id_col: str = "doc_id",
    salt_cells: int = 64,
) -> DataFrame:
    """Deterministic stratified sampling — the data-MIXING stage of a
    training pipeline: keep at most ``quota`` docs per stratum (domain,
    language, quality bucket, …), selected in a stable pseudo-random
    order (md5 of the id) so the sample is reproducible in any engine
    and invariant to partitioning. Output columns are (id, stratum,
    rank) — input columns with those names would be shadowed.

    TWO-PHASE selection (the 100 TB shape — strata like language or
    domain have cardinality 10-100, so a single window over
    partitionBy(stratum) would sort terabytes on one task): phase 1
    ranks within (stratum, salt cell) — the full corpus shuffles on a
    key with ``salt_cells``× the stratum cardinality and each cell
    keeps at most ``quota`` survivors; phase 2 runs the total-order
    window over the ≤ quota × salt_cells survivors per stratum, a
    bounded-size input regardless of corpus size. The final top-quota
    set per stratum is a subset of every cell's top-quota (the md5
    order is total), so the OUTPUT — rows and ranks — is identical to
    the single-window form and invariant to ``salt_cells``; the oracle
    SQL is the single-window form. At 100 TB quotas per stratum come
    from the mixture recipe table (broadcast-joined instead of a
    constant) — same plan shape."""
    from pyspark.sql import Window

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w_cell = Window.partitionBy("stratum", "_cell").orderBy(*order)
    w = Window.partitionBy("stratum").orderBy(*order)
    survivors = (
        df.withColumn("stratum", stratum)
        .withColumn("_cell", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_cells)))
        .withColumn("_crk", F.row_number().over(w_cell))
        .filter(F.col("_crk") <= quota)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= quota)
        .select(F.col(id_col), "stratum", F.col("rank").cast("long").alias("rank"))
        .orderBy("stratum", "rank")
    )


def _temperature_quota_table(
    staged: DataFrame, n_total: int, temperature: float, scale: int
) -> DataFrame:
    """Shared budget derivation for the mixing samplers: per-stratum
    counts → floor-scaled BIGINT fixed-point weights c^(1/T)·scale →
    exact integer DIV allocation of ``n_total``. Returns one tiny row
    per stratum: (stratum, _c count, _q quota). The one-row total
    weight joins via broadcast cross-join, not an empty-partition
    window (same integers, no single-task sort)."""
    a = 1.0 / float(temperature)
    cnt = staged.groupBy("stratum").agg(F.count("*").alias("_c"))
    wtab = cnt.withColumn(
        "_w",
        F.floor(
            (F.sqrt(F.col("_c")) if a == 0.5 else F.pow(F.col("_c"), F.lit(a)))
            * F.lit(int(scale))
        ).cast("decimal(38,0)"),
    )
    return (
        wtab.crossJoin(F.broadcast(wtab.agg(F.sum("_w").alias("_tw"))))
        .withColumn(
            "_q",
            F.expr(
                f"CAST((CAST({int(n_total)} AS DECIMAL(38,0)) * _w) DIV _tw AS BIGINT)"
            ),
        )
        .select("stratum", "_c", "_q")
    )


def temperature_mix(
    df: DataFrame,
    stratum: Column,
    n_total: int,
    temperature: float = 2.0,
    id_col: str = "doc_id",
    salt_cells: int = 64,
    scale: int = 10**9,
) -> DataFrame:
    """Temperature-scaled data mixing (mT5 / XLM-R §3.1): allocate a
    corpus-wide budget of ``n_total`` docs across strata with
    p_s ∝ c_s^(1/T) — T=1 is proportional, T→∞ uniform; low-resource
    strata are upweighted RELATIVE to their share as T grows. Quotas
    are derived from the data (one tiny per-stratum count agg), then
    selection reuses the deterministic two-phase stratified shape.

    Exact cross-engine arithmetic: weights are floor-scaled BIGINT
    fixed-point (``floor(c^(1/T) * scale)``) like lm_quality's log-prob
    folds — the integer sum and the final ``(n_total * w) div total_w``
    floor division are order-independent and bit-identical in any
    engine. For T=2 the weight is ``sqrt`` (IEEE exactly-rounded —
    byte-identical in Spark and DuckDB, so the oracle hashes); other T
    go through ``pow``, deterministic within Spark but last-ulp
    libm-sensitive across engines (documented, tested Spark-side).
    Floor allocation means Σ quota ≤ n_total (the remainder, < #strata
    docs, is deliberately dropped — stable under re-runs); a stratum
    smaller than its quota contributes all its docs.

    100 TB shape: the quota table is one row per stratum (cardinality
    10-100 for language/domain mixing) — broadcast back; the corpus
    shuffles ONCE on (stratum, salt cell) exactly like
    stratified_sample, with every stratum-keyed sort bounded by
    quota × salt_cells survivors. Decimal(38,0) intermediates keep
    ``n_total × w`` exact far past BIGINT range."""
    from pyspark.sql import Window

    staged = df.withColumn("stratum", stratum)
    quotas = _temperature_quota_table(staged, n_total, temperature, scale).select(
        "stratum", F.col("_q").alias("quota")
    )
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w_cell = Window.partitionBy("stratum", "_cell").orderBy(*order)
    w = Window.partitionBy("stratum").orderBy(*order)
    survivors = (
        staged.join(F.broadcast(quotas), "stratum")
        .withColumn("_cell", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_cells)))
        .withColumn("_crk", F.row_number().over(w_cell))
        .filter(F.col("_crk") <= F.col("quota"))
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("quota"))
        .select(
            F.col(id_col), "stratum", "quota", F.col("rank").cast("long").alias("rank")
        )
        .orderBy("stratum", "rank")
    )


def repeat_factor_mix(
    df: DataFrame,
    stratum: Column,
    n_total: int,
    temperature: float = 2.0,
    max_repeat: int = 4,
    id_col: str = "doc_id",
    scale: int = 10**9,
) -> DataFrame:
    """Epoch-based UPsampling — the repeat-factor side of data mixing
    (LLaMA / Dolma recipes: low-resource sources run for >1 epoch):
    derive per-stratum budgets exactly like ``temperature_mix``
    (p_s ∝ c_s^(1/T)), then emit each doc ``base = quota div c_s``
    times plus ONE extra epoch for a deterministic ``rem/c_s``
    fraction of docs, clamped at ``max_repeat`` epochs (recipes cap
    repetition — Muennighoff et al. 2023 show >4 epochs of repeated
    data stops helping). Output is (id, stratum, epoch) with epoch
    1..n_copies; strata with quota < c_s degrade to fractional
    KEEP-sampling (base 0, probability rem/c_s).

    The fractional epoch is an md5-threshold Bernoulli, not a rank:
    doc gets the extra epoch iff its 60-bit md5 prefix <
    floor(rem·2^60 / c_s) — all-integer arithmetic and a lexicographic
    compare on the lowercase hex prefix, so both engines agree
    bit-for-bit and the output hash-oracles. Per-stratum totals are
    quota ± binomial noise (exact-count selection would need a
    full-stratum rank — see stratified_sample for that trade).

    100 TB shape: NO full-corpus shuffle at all — one tiny count agg,
    a broadcast quota join, a JVM hex compare, and an explode; the
    output is emitted partition-local. The dual subsampler
    (temperature_mix) pays one salted shuffle for exact counts; this
    operator is the one you run over the whole corpus every epoch."""
    staged = df.withColumn("stratum", stratum)
    plan = repeat_plan(_temperature_quota_table(staged, n_total, temperature, scale))
    return repeat_epochs(staged, plan, max_repeat, id_col).orderBy(id_col, "epoch")


def repeat_plan(quota_table: DataFrame) -> DataFrame:
    """(stratum, _c, _q) budget rows → the per-stratum repeat RECIPE
    (stratum, _base, _thex): base epochs = quota div count, and the
    15-hex lowercase threshold floor(rem·2^60 / count) deciding the
    fractional extra epoch. In production this tiny table is trained
    once per snapshot, persisted, and replayed by batch and streaming
    alike — it IS the mixing recipe."""
    return (
        quota_table.withColumn("_base", F.expr("_q DIV _c"))
        .withColumn("_rem", F.expr("_q % _c"))
        .withColumn(
            "_thex",
            F.lower(
                F.lpad(
                    F.hex(
                        F.expr(
                            "CAST((CAST(_rem AS DECIMAL(38,0))"
                            " * CAST(1152921504606846976 AS DECIMAL(38,0)))"
                            " DIV _c AS BIGINT)"
                        )
                    ),
                    15,
                    "0",
                )
            ),
        )
        .select("stratum", "_base", "_thex")
    )


def repeat_epochs(
    staged: DataFrame,
    plan: DataFrame,
    max_repeat: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """The STATELESS epoch kernel shared by batch and streaming: rows
    (already carrying a ``stratum`` column) broadcast-join the repeat
    plan, each computes its copy count from its own md5 prefix, and
    explodes epochs 1..n. No shuffle, no state — safe under any input
    partitioning and as a stream-static join (streaming.py twin)."""
    extra = (
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15) < F.col("_thex")
    ).cast("long")
    n_copies = F.least(F.col("_base") + extra, F.lit(int(max_repeat)))
    # sequence(1, 0) would DESCEND (pack_chunks invariant) — guard n=0
    epochs = F.when(n_copies > 0, F.sequence(F.lit(1).cast("long"), n_copies)).otherwise(
        F.array().cast("array<long>")
    )
    return staged.join(F.broadcast(plan), "stratum").select(
        F.col(id_col), "stratum", F.explode(epochs).alias("epoch")
    )


def unimax_quota_table(
    staged: DataFrame, n_total: int, max_epochs: int = 4
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): visit strata by
    size ASCENDING (ties: stratum ASC — total order); each takes
    min(c_s * max_epochs, remaining_budget DIV remaining_strata). Small
    strata get their full epoch cap; their unused share flows to larger
    strata, which converge to a uniform split — fairer than temperature
    scaling for low-resource strata and never repeats data past the cap.

    The fold is inherently sequential, over the BOUNDED per-stratum
    count table (10-100 rows for language/domain mixing — the
    lm_vocab_logprobs driver precedent); pure integer arithmetic, so
    any engine replaying the same fold gets identical quotas. Returns
    (stratum, _c, _q) — the same contract as _temperature_quota_table,
    so repeat_plan / repeat_epochs compose unchanged."""
    rows = sorted(
        staged.groupBy("stratum").agg(F.count("*").alias("_c")).collect(),
        key=lambda r: (r["_c"], r["stratum"]),
    )
    rem, n = int(n_total), len(rows)
    out = []
    for i, r in enumerate(rows):
        q = min(int(r["_c"]) * int(max_epochs), rem // (n - i))
        rem -= q
        out.append((r["stratum"], int(r["_c"]), q))
    s_type = staged.schema["stratum"].dataType.simpleString()
    return staged.sparkSession.createDataFrame(
        out, f"stratum {s_type}, _c long, _q long"
    )


def unimax_mix(
    df: DataFrame,
    stratum: Column,
    n_total: int,
    max_epochs: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """UniMax data mixing: allocate an ``n_total``-doc training budget
    across strata by the UniMax rule (uniform-share with a per-stratum
    epoch cap), then emit (id, stratum, epoch) rows via the shared
    repeat recipe — base epochs + md5-threshold Bernoulli fractional
    epoch, exactly like repeat_factor_mix (only the quota table
    differs). 100 TB shape: identical to repeat_factor_mix — one tiny
    count agg, a driver fold over <=100 strata, a broadcast recipe
    join, and a partition-local explode; NO full-corpus shuffle."""
    staged = df.withColumn("stratum", stratum)
    plan = repeat_plan(unimax_quota_table(staged, n_total, max_epochs))
    return repeat_epochs(staged, plan, max_epochs, id_col).orderBy(id_col, "epoch")


# Conservative URL-domain pattern in the Java-regex ∩ RE2 common subset
# (no lookaround, unambiguous) so Spark and the DuckDB oracle tokenize
# identically; group 1 is the bare domain.
URL_DOMAIN_RX = r"https?://([A-Za-z0-9.-]+)"


def url_stats(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style domain filtering signals: per doc, the URL count, the
    ordered domain list (comma-joined — occurrence order, duplicates
    kept), and a blocked flag (any domain in the blocklist). Pure JVM
    expressions, one scan, no shuffle; the blocklist rides as a literal
    array — right for curation blocklists of up to a few thousand
    entries. For web-scale blocklists (millions of domains) use
    ``blocked_doc_ids`` instead: the list becomes a broadcast side of a
    semi-join and never inflates the plan."""
    # materialize the extraction once — three consumers below, and
    # Catalyst does not CSE regexp_extract_all (CLAUDE.md invariant)
    staged = df.withColumn(
        "_doms", F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RX), 1)
    )
    doms = F.col("_doms")
    blocked = F.arrays_overlap(doms, F.array(*[F.lit(b) for b in sorted(blocklist)]))
    return staged.select(
        F.col(id_col),
        F.size(doms).cast("long").alias("n_urls"),
        F.concat_ws(",", doms).alias("domains"),
        F.coalesce(blocked, F.lit(False)).alias("blocked"),
    )


def blocked_doc_ids(
    df: DataFrame,
    blocklist_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Docs referencing any blocklisted domain — the scale form of the
    C4 domain filter: explode per-doc distinct domains, broadcast
    semi-join against the blocklist table (same shape as decontaminate:
    zero training-text shuffle, the only joined rows are domain hits).
    Returns distinct ids to drop via left_anti."""
    doms = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RX), 1)
                )
            ).alias("_dom"),
        )
    )
    hits = doms.join(
        F.broadcast(blocklist_df.select(F.col(domain_col).alias("_dom")).distinct()),
        "_dom",
    )
    return hits.select(id_col).distinct().orderBy(id_col)


def dedup_segments(
    df: DataFrame,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (segment-level) dedup — the C4/RefinedWeb "line-level
    dedup" generalized to a segmentation function: split each doc into
    consecutive ``seg_tokens``-token segments (last one shorter), drop
    every segment whose exact content already occurred earlier in the
    corpus (first occurrence in (doc_id, seg_idx) order survives), and
    reassemble each doc from its surviving segments. Catches boilerplate
    repeated ACROSS documents that document-level dedup can't touch
    (headers, license blocks, navigation chrome). Emits
    (doc_id, clean_text, n_kept, n_dropped) for every input doc — a doc
    whose every segment is boilerplate comes back with clean_text = ''.

    100 TB shape: one shuffle partitions segments by their md5 digest
    (fixed-width key; the window ranks tiny same-digest groups), one
    shuffle regroups survivors by doc — both standard hash exchanges, no
    all-pairs anything; segment arrays are built in the scan projection
    (same slice machinery as the n-gram ops). The plan deliberately
    scans the text column more than once (segments, and a cheap
    per-doc count) instead of shuffling raw tokens alongside every
    segment row: columnar re-scan of one pruned column is cheaper than
    widening the digest shuffle, and the scans parallelize freely.
    Deterministic: keep-first is a total order, so the output is
    hash-oracle-able."""
    from pyspark.sql import Window

    # the segment lambda reads the staged _toks attribute, not
    # tokens(text): Catalyst does not CSE into a lambda body, so a split
    # there would re-split the whole text once per segment
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    # local zero-token guard (r5 advice): F.sequence(0, n_segs - 1) on an
    # empty token array would be a bogus descending [0, -1] range — the
    # invariant should not be inherited from tokens() never returning []
    seg_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * seg_tokens + 1, seg_tokens)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = staged.select(F.col(id_col), F.posexplode(seg_arr).alias("seg_idx", "seg"))
    w = Window.partitionBy(F.md5("seg")).orderBy(id_col, "seg_idx")
    ranked = segs.withColumn("_rk", F.row_number().over(w))
    kept = ranked.filter(F.col("_rk") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    # per-doc segment count is a pure expression of the text — compute it
    # on a direct (cheap) scan instead of re-running the tokenize +
    # slice-transform + posexplode pipeline a second time (r5 review)
    totals = df.select(
        F.col(id_col),
        F.ceil(F.size(tokens(F.col(text_col))) / F.lit(seg_tokens))
        .cast("long")
        .alias("_n_segs"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_segs") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
        .orderBy(id_col)
    )


def token_budget_sample(
    df: DataFrame,
    stratum: Column,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt_cells: int = 64,
) -> DataFrame:
    """Data mixing by TOKEN budget: walk each stratum in the stable
    md5(id) order and keep docs while the cumulative token count stays
    ≤ ``token_budget`` — the unit a training mixture actually recipes in
    (tokens per source), where stratified_sample counts docs. Cumulative
    sums are strictly increasing along the order (every doc has ≥ 1
    token), so the kept set is exactly the maximal md5-order prefix
    whose total ≤ budget; a doc alone larger than the whole budget is
    never kept. Emits (id, stratum, n_tokens, cum_tokens), reproducible
    in any engine.

    Same two-phase scale shape as stratified_sample: the full corpus
    shuffles on (stratum, salt cell) and each cell keeps its md5-order
    prefix with cell-cumsum ≤ budget PLUS the first doc pushing past it
    (filter: cum-before-this-doc ≤ budget). The +1 doc is load-bearing
    for exactness (round-5 review finding): every true-kept doc's
    predecessors all have true-cumsum ≤ budget, hence cell-cumsum ≤
    budget, hence survive — so phase 2's survivor-cumsum equals the true
    stratum cumsum for every true-kept doc; and the stratum's FIRST
    over-budget doc is by the same argument its cell's first over-budget
    doc, so it too survives to phase 2, where its > budget cumsum blocks
    itself and everything after it. Dropping it instead (a plain ≤
    budget prefix per cell) silently removes its tokens from later docs'
    cumsums and admits over-budget docs. Phase 2 is bounded by
    salt_cells × (budget + max_doc_tokens) per stratum. Output invariant
    to ``salt_cells``; the oracle is the single-window form."""
    from pyspark.sql import Window

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    staged = (
        df.withColumn("stratum", stratum)
        .withColumn("n_tokens", F.size(tokens(F.col(text_col))).cast("long"))
        .withColumn("_cell", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_cells)))
    )
    w_cell = (
        Window.partitionBy("stratum", "_cell")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = staged.withColumn("_ccum", F.sum("n_tokens").over(w_cell)).filter(
        F.col("_ccum") - F.col("n_tokens") <= token_budget
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pre.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= token_budget)
        .select(F.col(id_col), "stratum", "n_tokens", "cum_tokens")
        .orderBy("stratum", "cum_tokens")
    )


def exact_substring_dedup(
    df: DataFrame,
    span_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    semantics, re-expressed relationally instead of via a suffix array):
    any ``span_tokens``-token window whose exact content occurs more
    than once in the corpus is removed from every occurrence EXCEPT the
    first (global (doc_id, position) order); a token is dropped iff some
    removed duplicate window covers it, so overlapping duplicate spans
    merge by position-set union exactly as the reference tool's
    interval merge does. Docs shorter than the span keep all tokens.
    Emits (doc_id, clean_text, n_kept, n_removed) for every input doc.

    100 TB shape: the positional window index is O(total tokens) rows of
    fixed-width md5 keys — one shuffle on the window key ranks
    occurrences (same-key groups are tiny), one bounded explode turns
    duplicate occurrences into ≤ span_tokens covered positions each, and
    the rebuild is one anti-join plus one per-doc regroup. That linear
    index IS the honest cost of exact-substring dedup at scale (the
    suffix-array original is likewise O(corpus)); there is no all-pairs
    stage anywhere. The text column is deliberately re-scanned for the
    window index, the token-position explode, and the per-doc total
    (three pruned columnar scans) rather than shuffling tokens along
    with the window keys — re-scan is cheaper than widening the
    O(corpus) shuffle. Deterministic keep-first → hash-oracle-able."""
    from pyspark.sql import Window

    L = span_tokens
    staged = df.withColumn("_toks", tokens(F.col(text_col)))
    n = F.size(F.col("_toks"))
    occ = staged.select(
        F.col(id_col),
        F.explode(
            F.when(
                n >= L,
                F.transform(
                    F.sequence(F.lit(1), n - (L - 1)),
                    lambda p: F.struct(
                        p.alias("p"),
                        F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), p, L))).alias("k"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<p:int,k:string>>"))
        ).alias("o"),
    ).select(F.col(id_col), F.col("o.p").alias("p"), F.col("o.k").alias("k"))
    w = Window.partitionBy("k").orderBy(id_col, "p")
    dups = occ.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") > 1)
    covered = dups.select(
        F.col(id_col), F.explode(F.sequence(F.col("p"), F.col("p") + (L - 1))).alias("tp")
    ).distinct()
    tok_pos = staged.select(
        F.col(id_col), F.posexplode(F.col("_toks")).alias("i0", "tok")
    ).select(F.col(id_col), (F.col("i0") + 1).alias("tp"), "tok")
    kept = tok_pos.join(covered, [id_col, "tp"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("long").alias("_n")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy(id_col)
    )


def decontaminate(
    train_df: DataFrame,
    benchmark_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    ordered: bool = True,
) -> DataFrame:
    """Test-set decontamination: per training document, count word n-grams
    (default 13, the GPT-3/Gopher convention) that also occur anywhere in a
    benchmark corpus, and flag contaminated docs for removal.

    100 TB shape: the benchmark side (eval sets) is small by construction —
    its distinct n-gram keys broadcast, so detection is a broadcast
    semi-join inside the training scan with NO shuffle of training text;
    the only shuffle is the per-doc hit-count groupBy on doc_id, over hit
    rows only (rare by design). Grams join on a 16-hex-char md5 prefix
    (64-bit entropy — collisions only FLAG an extra doc, never miss one),
    so the broadcast carries fixed-width keys, not raw n-gram strings.
    Docs shorter than n tokens produce no grams → never flagged."""
    gram_key = lambda g: F.substring(F.md5(g), 1, 16)  # noqa: E731
    bench_grams = (
        benchmark_df.withColumn("_toks", tokens(F.col(text_col)))
        .select(F.explode(ngram_list(F.col("_toks"), n)).alias("_g"))
        .select(gram_key(F.col("_g")).alias("_gk"))
        .distinct()
    )
    train_grams = (
        train_df.withColumn("_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            # distinct per doc: n_hit_grams counts DISTINCT contaminated
            # grams (a gram repeated inside one doc counts once)
            F.explode(F.array_distinct(ngram_list(F.col("_toks"), n))).alias("_g"),
        )
        .select(id_col, gram_key(F.col("_g")).alias("_gk"))
    )
    hits = train_grams.join(F.broadcast(bench_grams), "_gk").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hit_grams")
    )
    out = train_df.join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long").alias("n_hit_grams"),
        (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
    )
    return out.orderBy(id_col) if ordered else out


def contamination_counts(
    df: DataFrame,
    bench_keys: list[str],
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless per-row decontamination — the STREAMING-safe form: no
    shuffle, no join; the benchmark gram-key set (16-hex md5 prefixes,
    as produced by ``benchmark_gram_keys``) rides as a literal array and
    each row computes ``size(array_intersect(its grams, keys))``. Eval
    sets are small by construction, so the literal array is bounded; at
    batch scale prefer ``decontaminate`` (broadcast semi-join, no
    per-row set scan). Semantics are identical — pinned by
    test_stream_decontaminate_matches_batch."""
    keys = F.array(*[F.lit(k) for k in sorted(bench_keys)])
    # ngram_list reads the staged _toks attribute inside its lambda; an
    # unstaged tokens(text) there would re-split the text once per gram
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    grams = F.transform(
        F.array_distinct(ngram_list(F.col("_toks"), n)),
        lambda g: F.substring(F.md5(g), 1, 16),
    )
    # count via filter+array_contains, NOT array_intersect: intersect would
    # dedup the KEYS, so two distinct 13-grams colliding on the 16-hex
    # prefix would count once here but twice in decontaminate's join —
    # astronomically rare, but the batch-parity claim is load-bearing
    hitc = F.size(F.filter(grams, lambda k: F.array_contains(keys, k))).cast("long")
    return staged.select(
        F.col(id_col), hitc.alias("n_hit_grams"), (hitc > 0).alias("contaminated")
    )


def benchmark_gram_keys(
    benchmark_df: DataFrame, n: int = 13, text_col: str = "text"
) -> list[str]:
    """Driver-side distinct gram-key set of a (small) benchmark corpus —
    the input to contamination_counts. One tiny Spark job."""
    rows = (
        benchmark_df.withColumn("_toks", tokens(F.col(text_col)))
        .select(F.explode(ngram_list(F.col("_toks"), n)).alias("_g"))
        .select(F.substring(F.md5("_g"), 1, 16).alias("_gk"))
        .distinct()
        .collect()
    )
    return [r._gk for r in rows]


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition/quality signals per document — pure JVM
    expressions, one scan, no shuffle (token and gram arrays materialized
    once each). A curation pipeline filters on these thresholds (e.g.
    dup_2gram < 0.2, dup_3gram < 0.18, symbol_ratio < 0.1) before the
    dedup stages."""
    t = F.col(text_col)
    staged = (
        df.withColumn("_toks", tokens(t))
        .withColumn("_g2", ngram_list(F.col("_toks"), 2))
        .withColumn("_g3", ngram_list(F.col("_toks"), 3))
    )
    return staged.select(
        F.col(id_col),
        F.round(dup_fraction(F.col("_g2")), 4).alias("dup_2gram"),
        F.round(dup_fraction(F.col("_g3")), 4).alias("dup_3gram"),
        F.round(symbol_word_ratio(t, F.col("_toks")), 4).alias("symbol_ratio"),
        F.round(
            F.length(t).cast("double")
            / F.greatest(F.size(F.array_distinct(F.col("_toks"))), F.lit(1)),
            4,
        ).alias("chars_per_distinct_token"),
    )


def quality_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """RedPajama-V2-style per-doc quality-signal table: the union of
    doc_stats, repetition_stats, and the gopher_filters signal set,
    computed in ONE pass — a single scan, zero shuffles, with the
    token / lowered-token / 2-gram / 3-gram arrays each materialized
    exactly once and every signal expressed against them (running the
    three component queries separately costs three scans and re-derives
    the arrays each time; Catalyst does not CSE them). This is the
    signal-extraction shape a 100 TB curation run uses: extract the wide
    signal table once, then all downstream filters/mixers read the cheap
    narrow table instead of re-tokenizing text.

    Signal values are IDENTICAL to their component operators (same
    formulas over the same arrays; pinned by test against doc_stats /
    repetition_stats / gopher_filters outputs)."""
    t = F.col(text_col)
    staged = (
        df.withColumn("_toks", tokens(t))
        .withColumn("_lt", F.transform(F.col("_toks"), F.lower))
        .withColumn("_g2", ngram_list(F.col("_toks"), 2))
        .withColumn("_g3", ngram_list(F.col("_toks"), 3))
    )
    toks = F.col("_toks")
    n = F.size(toks)
    n_safe = F.greatest(n, F.lit(1))
    stop_hits_total = F.size(F.filter(F.col("_lt"), lambda x: x.isin(STOPWORDS)))
    stop_ratio = stop_hits_total / n_safe
    alpha_r = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.greatest(
        F.length(t), F.lit(1)
    )
    len_ok = F.when((n >= 10) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio > 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    char_sum = F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return staged.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        word_token_count(t).alias("n_word_tokens"),
        F.length(t).alias("n_chars_measured"),
        F.round(char_sum.cast("double") / n_safe.cast("double"), 4).alias(
            "mean_word_len"
        ),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.size(
            F.array_intersect(F.col("_lt"), F.array(*[F.lit(s) for s in STOPWORDS]))
        )
        .cast("long")
        .alias("stop_hits"),
        F.round(alpha_r, 4).alias("alpha_ratio"),
        F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("double")
            / n_safe.cast("double"),
            4,
        ).alias("alpha_word_ratio"),
        F.round(symbol_word_ratio(t, toks), 4).alias("symbol_ratio"),
        F.round(dup_fraction(F.col("_g2")), 4).alias("dup_2gram"),
        F.round(dup_fraction(F.col("_g3")), 4).alias("dup_3gram"),
        F.round(
            F.length(t).cast("double")
            / F.greatest(F.size(F.array_distinct(toks)), F.lit(1)),
            4,
        ).alias("chars_per_distinct_token"),
        F.round((len_ok + stop_ok + alpha_r) / 3.0, 4).alias("quality"),
        F.when(stop_ratio > 0.01, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
        fingerprint(t).alias("fingerprint"),
    )


def ngram_topk(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WIMBD-style corpus n-gram analysis (Elazar et al. 2024, "What's In
    My Big Data"): the k most frequent word n-grams corpus-wide, with
    total occurrences and the number of distinct docs containing each —
    the standard boilerplate/memorization audit (a gram with high
    occurrences but low n_docs is a within-doc degeneration; high both is
    corpus boilerplate — exactly the segments dedup_segments removes).

    100 TB shape: the within-doc counting happens MAP-SIDE — the gram
    array is sorted once and run-length encoded with pure expressions
    (O(len·log len) per doc, NOT the O(distinct × len) rescan-per-
    distinct-gram fold, which goes quadratic on book-length documents),
    so the gram-keyed shuffle carries one (gram, count) struct per
    DISTINCT gram per doc instead of every occurrence, and n_docs is a
    plain count(1) — no distinct-aggregate expand. The naive
    explode-every-occurrence + countDistinct form measured 3.5-4.5×
    slower at sf0.1 (interleaved A/B, identical checksums). Top-k is
    TakeOrdered (no global sort); ties break on the gram string, so the
    k-cut is a total order — hash-oracle-able."""
    staged = (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_sg", F.array_sort(ngram_list(F.col("_toks"), n)))
        # run starts: positions whose gram differs from the previous one
        .withColumn(
            "_starts",
            F.filter(
                F.transform(F.col("_sg"), lambda x, i: i),
                lambda i: (i == F.lit(0))
                | (F.get(F.col("_sg"), i) != F.get(F.col("_sg"), i - 1)),
            ),
        )
    )
    # run lengths: next start (or array end) minus this start — F.get is
    # null-safe, so the last run's lookup coalesces to size(_sg)
    pairs = staged.select(
        F.explode(
            F.transform(
                F.col("_starts"),
                lambda s, j: F.struct(
                    F.get(F.col("_sg"), s).alias("gram"),
                    (
                        F.coalesce(
                            F.get(F.col("_starts"), j + 1), F.size(F.col("_sg"))
                        )
                        - s
                    )
                    .cast("long")
                    .alias("cnt"),
                ),
            )
        ).alias("p")
    )
    agg = pairs.groupBy("p.gram").agg(
        F.sum("p.cnt").cast("long").alias("occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return agg.orderBy(F.desc("occurrences"), F.asc("gram")).limit(k)


def gopher_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_2gram: float = 0.20,
    max_dup_3gram: float = 0.18,
) -> DataFrame:
    """Full Gopher document-level quality-rule battery (Rae et al. 2021,
    Table A1) as a per-doc verdict table: word-count band, mean word
    length band, symbol-to-word ratio, alphabetic-word fraction, the
    "contains >= 2 stopwords" rule, and the duplicate 2/3-gram repetition
    caps. ``keep`` is the conjunction. Line-level rules (bullet/ellipsis
    line fractions) are omitted: the synthetic corpus is single-line, so
    they are identically trivial — a multi-line corpus would add them as
    two more filter() ratios over split(text, '\\n').

    One scan, zero shuffles: every signal is a pure JVM expression over
    materialized token/gram arrays (Catalyst does not CSE them —
    withColumn pins each to one evaluation). ``keep`` compares the
    UNROUNDED ratios — each is a single IEEE division of exact integers,
    so the verdict is bit-identical across engines; the emitted ratio
    columns are rounded to 4 decimals for display/hash stability."""
    t = F.col(text_col)
    staged = (
        df.withColumn("_toks", tokens(t))
        .withColumn("_g2", ngram_list(F.col("_toks"), 2))
        .withColumn("_g3", ngram_list(F.col("_toks"), 3))
    )
    n_words = F.size(F.col("_toks"))
    char_sum = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mean_wl = char_sum.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    alpha_words = F.size(F.filter(F.col("_toks"), lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio_ = alpha_words.cast("double") / F.greatest(n_words, F.lit(1)).cast(
        "double"
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(F.col("_toks"), F.lower),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    )
    sym = symbol_word_ratio(t, F.col("_toks"))
    d2 = dup_fraction(F.col("_g2"))
    d3 = dup_fraction(F.col("_g3"))
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym <= max_symbol_ratio)
        & (alpha_ratio_ >= min_alpha_word_ratio)
        & (stop_hits >= min_stopword_hits)
        & (d2 <= max_dup_2gram)
        & (d3 <= max_dup_3gram)
    )
    return staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(alpha_ratio_, 4).alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(d2, 4).alias("dup_2gram"),
        F.round(d3, 4).alias("dup_3gram"),
        keep.cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# CCNet-style LM quality scoring + fastText-style quality classifier
# ---------------------------------------------------------------------------

# Log-probs and classifier weights are carried as SCALED INTEGERS
# (value * LM_SCALE, floor-rounded): BIGINT sums are exact and
# order-independent, so the per-doc fold is bit-identical in any engine,
# at any partitioning, in any evaluation order. Only the final
# (sum / LM_SCALE / n) division is floating-point, and that is a fixed
# 3-op IEEE expression evaluated identically by Spark and DuckDB.
LM_SCALE = 1_000_000_000


def lm_vocab_logprobs(
    df: DataFrame, top_k: int = 16, text_col: str = "text"
) -> tuple[dict[str, int], int]:
    """Pass 1 of CCNet-style LM scoring: corpus unigram counts -> the
    top-``top_k`` vocabulary with floor-scaled log-probs, plus the OOV
    floor log-prob (ln(0.5 / total_tokens), a Laplace-ish backstop).

    Driver-side result is BOUNDED (top_k entries — same precedent as the
    hyperplane sign precompute in simsearch._plane_signs): the aggregated
    count table is persisted so the top-k and the total-token sum reuse
    one corpus scan. Ties in count break on token ASC (total order)."""
    import math

    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    try:
        top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_k).collect()
        tot = counts.agg(F.sum("cnt").alias("t")).collect()[0]["t"]
    finally:
        counts.unpersist()
    lp = {r["token"]: math.floor(math.log(r["cnt"] / tot) * LM_SCALE) for r in top}
    oov = math.floor(math.log(0.5 / tot) * LM_SCALE)
    return lp, oov


def lm_quality(
    df: DataFrame,
    top_k: int = 16,
    head_cutoff: float = 6.5,
    tail_cutoff: float = 7.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: tuple[dict[str, int], int] | None = None,
) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020): score every
    document by its mean negative log-likelihood under a unigram LM
    trained on the corpus itself, then bucket into head/middle/tail.
    CCNet's cutoffs are precomputed constants calibrated offline (on a
    held-out Wikipedia distribution), NOT per-run percentiles — so the
    cutoffs here are fixed recipe parameters, and pass 2 needs no global
    sort.

    100 TB shape: pass 1 is one map-side-combined token count (the only
    shuffle, keyed by token) reduced to a top_k-row driver table; pass 2
    is a pure map-side fold over each doc's token array against a
    broadcast literal map — no shuffle, no Python, whole-stage codegen.
    Integer-scaled log-probs make the fold order-independent (see
    LM_SCALE note).

    Pass ``vocab=(lp_dict, oov)`` (from lm_vocab_logprobs on a training
    corpus) to score with an OFFLINE-trained LM — CCNet's production
    shape, and the streaming form: pass 2 is then a pure projection that
    runs unchanged on a readStream (test_stream_lm_quality...)."""
    staged = lm_scores(df, top_k=top_k, text_col=text_col, vocab=vocab)
    bucket = (
        F.when(F.col("avg_nll") <= head_cutoff, F.lit("head"))
        .when(F.col("avg_nll") <= tail_cutoff, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return staged.select(
        F.col(id_col), F.col("n_tokens"), F.col("avg_nll"), bucket.alias("bucket")
    )


def lm_scores(
    df: DataFrame,
    top_k: int = 16,
    text_col: str = "text",
    vocab: tuple[dict[str, int], int] | None = None,
) -> DataFrame:
    """The scoring stage shared by lm_quality (fixed cutoffs) and
    ccnet_buckets (per-stratum percentile cutoffs): append
    (n_tokens, avg_nll) to ``df``, input columns preserved. Pure
    map-side fold against the broadcast literal vocab — see lm_quality
    for the scale/exactness notes."""
    lp, oov = (
        vocab if vocab is not None
        else lm_vocab_logprobs(df, top_k=top_k, text_col=text_col)
    )
    from ngxspark.plankit import lit_str_long_map

    # one parsed map literal — the per-entry create_map form paid ~2
    # py4j calls per vocab entry of pure driver time (r7, see plankit)
    vocab_map = lit_str_long_map((t, lp[t]) for t in sorted(lp))
    return (
        df.withColumn("_toks", tokens(F.lower(F.col(text_col))))
        .withColumn("n_tokens", F.size("_toks"))
        .withColumn(
            "_slp",
            F.aggregate(
                F.col("_toks"),
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.coalesce(vocab_map[t], F.lit(oov)),
            ),
        )
        .withColumn(
            "avg_nll",
            F.round(
                (-F.col("_slp")).cast("double")
                / F.lit(float(LM_SCALE))
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
        .drop("_toks", "_slp")
    )


def ccnet_buckets(
    df: DataFrame,
    stratum: Column,
    percentiles: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = False,
    top_k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: tuple[dict[str, int], int] | None = None,
) -> DataFrame:
    """TRUE-CCNet bucketing (Wenzek et al. 2020 §4.3): where lm_quality
    applies FIXED precomputed cutoffs, the original CCNet derives the
    head/middle/tail thresholds from each language's own perplexity
    distribution — here, per-``stratum`` percentiles of avg_nll, so a
    hard language is not all tail and an easy one not all head. Cutoffs
    are rounded to avg_nll's own 6-decimal precision before the bucket
    compare: they become recipe constants either engine reproduces
    (CCNet itself ships the calibrated cutoffs as constants).

    100 TB shape: scoring is the lm_scores map-side fold (no shuffle
    with an offline vocab); the only new aggregation is the per-stratum
    cutoff table — ``exact=False`` (production default) uses the
    mergeable approx_percentile sketch, ``exact=True`` (the gate mode —
    the corpus_profile/IVF duality) the exact percentile aggregate,
    which buffers each stratum's scores on one reducer; the tiny cutoff
    table broadcasts back and bucketing is map-side."""
    staged = lm_scores(
        df.withColumn("stratum", stratum), top_k=top_k, text_col=text_col, vocab=vocab
    )
    pcts = F.array(*[F.lit(float(p)) for p in percentiles])
    perc_fn = F.percentile if exact else F.percentile_approx
    perc_args = (
        (F.col("avg_nll"), pcts) if exact else (F.col("avg_nll"), pcts, F.lit(10000))
    )
    cuts = staged.groupBy("stratum").agg(perc_fn(*perc_args).alias("_pc")).select(
        "stratum",
        F.round(F.get(F.col("_pc"), 0).cast("double"), 6).alias("_c1"),
        F.round(F.get(F.col("_pc"), 1).cast("double"), 6).alias("_c2"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("_c1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        staged.join(F.broadcast(cuts), "stratum")
        .select(
            F.col(id_col),
            "stratum",
            F.col("avg_nll"),
            bucket.alias("bucket"),
        )
        .orderBy(id_col)
    )


# fastText-style hashed linear quality classifier (Joulin et al. 2016 —
# the GPT-3/LLaMA "quality classifier" curation step). Weights are
# deterministic pseudo-random values derived from md5 of the bucket id —
# a stand-in for trained weights (training is out of scope; the Spark
# plumbing — hashed n-gram features, literal weight table, map-side
# scoring — is the real, tested part).
QC_DIM = 64


def _ub_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stage the hashed-feature input shared by quality_classifier and
    dsir_sample: lowercase unigram + bigram word features in ``_feats``
    (materialized ONCE — Catalyst does not CSE the token array), with
    ``n_feats``. The bigram transform guards n < 2 (Spark's
    sequence(1,0) would descend)."""
    toks = tokens(F.lower(F.col(text_col)))
    staged = df.withColumn("_toks", toks).withColumn("_n", F.size("_toks"))
    bigrams = (
        F.when(
            F.col("_n") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("_toks"), i), F.element_at(F.col("_toks"), i + 1)
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    # materialize_once: InferFiltersFromGenerate + pushdown otherwise
    # clone this whole feature build into a filter below the exchange —
    # dsir pass 1 measured 3 evaluations per row at scan parallelism
    # (4.0 s → ~1 s at sf0.1; see plankit docstring)
    from ngxspark.plankit import materialize_once

    return staged.withColumn(
        "_feats", materialize_once(F.concat(F.col("_toks"), bigrams))
    ).withColumn("n_feats", F.size("_feats"))


def _bucket_of(dim: int):
    """Feature -> bucket column fn: first 8 md5 hex chars as u32, mod
    dim (the cross-engine-pinned u32 derivation)."""
    return lambda f: (
        F.conv(F.substring(F.md5(f), 1, 8), 16, 10).cast("long") % dim
    ).cast("int")


def qc_weights(dim: int = QC_DIM) -> list[int]:
    """Scaled-integer weight table: w_b = floor((md5_u32('ngxw:b')/2^32 -
    0.5) * LM_SCALE). Every step before the floor is exact in IEEE double
    (u32 / 2^32 and the 0.5 subtract are power-of-two ops), so any
    engine deriving from the same md5 gets the same integers — pinned by
    test against an independent DuckDB derivation."""
    import hashlib
    import math

    out = []
    for b in range(dim):
        u32 = int(hashlib.md5(f"ngxw:{b}".encode()).hexdigest()[:8], 16)
        out.append(math.floor((u32 / 2**32 - 0.5) * LM_SCALE))
    return out


def quality_classifier(
    df: DataFrame,
    dim: int = QC_DIM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document with a linear model over hashed unigram +
    bigram features (fastText architecture): logit = mean over features
    of w[md5_u32(feat) % dim]; label = keep iff logit > 0.

    100 TB shape: zero shuffles — one scan, per-row md5 + literal-array
    lookup + BIGINT fold, all whole-stage codegen (same literal-table
    pattern as the hyperplane sign precompute, 7.1x over in-plan
    derivation). The bigram transform guards n < 2 (Spark's sequence(1,0)
    would descend)."""
    from ngxspark.plankit import lit_long_array

    ws = qc_weights(dim)
    w_lit = lit_long_array(ws)
    staged = _ub_features(df, text_col)
    bucket_of = _bucket_of(dim)
    staged = staged.withColumn(
        "_ls",
        F.aggregate(
            F.col("_feats"),
            F.lit(0).cast("long"),
            lambda acc, f: acc + F.element_at(w_lit, bucket_of(f) + 1),
        ),
    ).withColumn(
        "logit",
        F.round(
            F.col("_ls").cast("double")
            / F.lit(float(LM_SCALE))
            / F.col("n_feats").cast("double"),
            6,
        ),
    )
    label = F.when(F.col("logit") > 0, F.lit("keep")).otherwise(F.lit("drop"))
    return staged.select(
        F.col(id_col), F.col("n_feats"), F.col("logit"), label.alias("label")
    )


# --- DSIR: Data Selection via Importance Resampling (Xie et al. 2023).
# Select raw-pool docs whose hashed n-gram distribution looks like a small
# TARGET corpus: per-bucket importance log-ratio lambda[b] =
# ln p_target(b) - ln p_raw(b) (add-1 smoothed), doc weight = sum of
# lambda over its features. The paper's sampled variant adds Gumbel noise;
# the deterministic top-n by weight is its zero-temperature limit and the
# form that hash-oracles (rank order is identical, selection is a total
# order on (weight, id)).
DSIR_BUCKETS = 256


def dsir_logratios(
    raw_df: DataFrame,
    target_df: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
) -> list[int]:
    """Pass 1 of DSIR: hashed unigram+bigram bucket counts on the raw
    pool and the target corpus -> floor-scaled BIGINT log-ratios,
    lambda[b] = floor(ln((c_t+1)/(tot_t+B))*S) - floor(ln((c_r+1)/(tot_r+B))*S).

    Driver-side result is BOUNDED (n_buckets entries — the
    lm_vocab_logprobs / _plane_signs precedent). Both sides count in ONE
    side-tagged union job — one codegen compile of the heavy feature
    chain and one map-side-combined shuffle keyed by (side, bucket),
    instead of two jobs that each recompile it (measured ~2x on the
    pass-1 wall at sf0.1). Two separate floors (not floor of the
    difference) keep each term identical to an independent SQL
    derivation; integer lambdas make every downstream doc fold exact
    and order-independent (see LM_SCALE note)."""
    import math

    bucket_of = _bucket_of(n_buckets)
    tagged = raw_df.select(
        F.lit("r").alias("_side"), F.col(text_col)
    ).unionByName(target_df.select(F.lit("t").alias("_side"), F.col(text_col)))
    rows = (
        _ub_features(tagged, text_col)
        .select("_side", F.explode("_feats").alias("_f"))
        .groupBy("_side", bucket_of(F.col("_f")).alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    cr = {r["b"]: r["cnt"] for r in rows if r["_side"] == "r"}
    ct = {r["b"]: r["cnt"] for r in rows if r["_side"] == "t"}
    tr, tt = sum(cr.values()), sum(ct.values())
    out = []
    for b in range(n_buckets):
        lt = math.floor(math.log((ct.get(b, 0) + 1) / (tt + n_buckets)) * LM_SCALE)
        lr = math.floor(math.log((cr.get(b, 0) + 1) / (tr + n_buckets)) * LM_SCALE)
        out.append(lt - lr)
    return out


def dsir_sample(
    raw_df: DataFrame,
    target_df: DataFrame,
    n: int,
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    logratios: list[int] | None = None,
) -> DataFrame:
    """DSIR selection: score every raw-pool doc by the mean hashed-n-gram
    importance log-ratio against the target corpus, keep the top ``n``
    (weight DESC, id ASC — deterministic total order).

    100 TB shape: pass 1 is ONE side-tagged bucket-keyed count job
    reduced to a driver table; pass 2 is a pure map-side fold over each doc's feature
    array against a LITERAL lambda array (no explode, no join, no
    per-doc shuffle — the lm_quality pass-2 / sign-precompute pattern),
    then a TakeOrdered top-n (per-partition partial top-n, driver merge
    of n*partitions rows — never a global sort). Pass ``logratios`` from
    an OFFLINE dsir_logratios run for the production/streaming form:
    pass 2 is then a standalone projection."""
    lam = (
        logratios
        if logratios is not None
        else dsir_logratios(raw_df, target_df, n_buckets, text_col)
    )
    return dsir_score(raw_df, lam, n_buckets, text_col, id_col).orderBy(
        F.desc("weight"), F.asc(id_col)
    ).limit(n)


def dsir_score(
    df: DataFrame,
    logratios: list[int],
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR pass 2 alone: per-doc importance weight against a literal
    lambda array — a pure shuffle-free projection, so it runs unchanged
    on a readStream (the streaming form scores docs as they arrive;
    top-n selection is a downstream batch concern)."""
    from ngxspark.plankit import lit_long_array

    lam_lit = lit_long_array(logratios)
    bucket_of = _bucket_of(n_buckets)
    staged = _ub_features(df, text_col).withColumn(
        "_w",
        F.aggregate(
            F.col("_feats"),
            F.lit(0).cast("long"),
            lambda acc, f: acc + F.element_at(lam_lit, bucket_of(f) + 1),
        ),
    )
    return staged.withColumn(
        "avg_logratio",
        F.round(
            F.col("_w").cast("double")
            / F.lit(float(LM_SCALE))
            / F.col("n_feats").cast("double"),
            6,
        ),
    ).select(
        F.col(id_col),
        F.col("n_feats"),
        F.col("_w").alias("weight"),
        F.col("avg_logratio"),
    )


def corpus_profile(
    df: DataFrame,
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    exact: bool = False,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group corpus profiling — the monitoring/reporting stage of a
    curation pipeline (doc counts, token-length distribution, mean
    quality per source/snapshot/language).

    Determinism strategy: mean and stddev come from EXACT integer sums
    (token counts as BIGINT, token squares and the x10000-scaled quality
    as DECIMAL(38,0) so 100 TB corpora can't overflow) — aggregation
    order can't move them; the only float math is the fixed final
    expression, identical in both engines.

    ``exact=False`` (production default) uses approx_percentile — a
    mergeable sketch that partial-aggregates map-side like any other
    agg. ``exact=True`` (the gate mode, same duality as IVF
    exact_means) uses the exact percentile aggregate, which buffers each
    group's values on its reducer — fine for bounded groups, not for
    petabyte strata; the approx path is the scale path."""
    t = F.col(text_col)
    base = df.select(
        F.col(group_col),
        token_count(t).cast("long").alias("_nt"),
        F.round(quality_score(t) * 10000).cast("decimal(38,0)").alias("_q10k"),
    ).withColumn("_nt2", (F.col("_nt") * F.col("_nt")).cast("decimal(38,0)"))
    pcts = F.array(*[F.lit(p) for p in percentiles])
    perc_fn = F.percentile if exact else F.percentile_approx
    perc_args = (F.col("_nt"), pcts) if exact else (F.col("_nt"), pcts, F.lit(10000))
    aggd = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_nt2").alias("_ssq"),
        F.sum("_q10k").alias("_sq"),
        perc_fn(*perc_args).alias("_pcts"),
    )
    n = F.col("n_docs")
    s = F.col("total_tokens")
    out = aggd.select(
        F.col(group_col),
        n,
        s,
        F.round(s.cast("double") / n.cast("double"), 4).alias("mean_tokens"),
        F.when(
            n > 1,
            F.round(
                F.sqrt(
                    (n.cast("decimal(38,0)") * F.col("_ssq") - s.cast("decimal(38,0)") * s)
                    .cast("double")
                    / (n.cast("double") * (n.cast("double") - F.lit(1.0)))
                ),
                4,
            ),
        ).alias("sd_tokens"),  # NULL (not NaN) for single-doc groups
        *[
            F.round(F.get(F.col("_pcts"), i).cast("double"), 4).alias(
                f"p{int(p * 100)}_tokens"
            )
            for i, p in enumerate(percentiles)
        ],
        F.round(F.col("_sq").cast("double") / F.lit(10000.0) / n.cast("double"), 6).alias(
            "mean_quality"
        ),
    )
    return out.orderBy(group_col)


# ---------------------------------------------------------------------------
# Character-trigram language ID (CLD/langid.py-style heuristic, multi-lang)
# ---------------------------------------------------------------------------

# Deterministic seed paragraphs per language (function-word dense; composed
# for this repo — the profile only needs to be *fixed*, not linguistically
# complete). Lowercase on purpose: profiles and the engine normalization
# both lower-case, so accented UPPER-case seeds could otherwise expose
# cross-engine unicode lower() differences.
LANG_SEEDS: dict[str, str] = {
    "de": (
        "das ist ein text und er hat viele worte die wir kennen denn sie "
        "sind in der sprache sehr gebraucht und werden mit dem artikel "
        "geschrieben weil das nicht anders geht aber auch nicht schlimm ist "
        "wenn man die sache einmal verstanden hat und dann immer wieder "
        "lesen kann was hier steht"
    ),
    "en": (
        "this is a text and it has many words that we know because they "
        "are used in the language very often and they are written with the "
        "article because it cannot be done another way but it is also not "
        "bad when you have understood the thing once and then you can "
        "always read again what is written here"
    ),
    "es": (
        "este es un texto y tiene muchas palabras que conocemos porque se "
        "usan en la lengua muy a menudo y se escriben con el articulo "
        "porque no se puede hacer de otra manera pero tampoco es malo "
        "cuando uno ha entendido la cosa una vez y luego siempre puede "
        "leer de nuevo lo que esta escrito aqui"
    ),
    "fr": (
        "ceci est un texte et il a beaucoup de mots que nous connaissons "
        "parce que ils sont employes dans la langue tres souvent et ils "
        "sont ecrits avec le article parce que on ne peut pas faire "
        "autrement mais ce nest pas grave quand on a compris la chose une "
        "fois et puis on peut toujours relire ce qui est ecrit ici"
    ),
    "it": (
        "questo e un testo e ha molte parole che conosciamo perche sono "
        "usate nella lingua molto spesso e sono scritte con il articolo "
        "perche non si puo fare altrimenti ma non e nemmeno male quando "
        "uno ha capito la cosa una volta e poi puo sempre leggere di "
        "nuovo quello che e scritto qui"
    ),
    "pt": (
        "este e um texto e tem muitas palavras que conhecemos porque sao "
        "usadas na lingua muito frequentemente e sao escritas com o artigo "
        "porque nao se pode fazer de outra maneira mas tambem nao e mau "
        "quando se entendeu a coisa uma vez e depois se pode sempre ler "
        "de novo o que esta escrito aqui"
    ),
}

LANGID_SCALE = 1_000_000


def _langid_norm_py(text: str) -> str:
    """Driver-side seed normalization: unicode letters kept, everything
    else collapsed to single spaces, padded — mirrors the engine-side
    `[^\\p{L}]+ -> ' '` normalization (str.isalpha == \\p{L})."""
    out = "".join(ch if ch.isalpha() else " " for ch in text.lower())
    return " " + " ".join(out.split()) + " "


def langid_profiles(
    langs: tuple[str, ...] = ("de", "en", "es", "fr", "it", "pt"),
) -> tuple[dict[str, dict[str, int]], dict[str, int]]:
    """Fixed-point add-one-smoothed trigram log-likelihood profiles.

    Built ONCE on the driver from LANG_SEEDS; the engines only consume
    the resulting integer literals (Spark: literal map per language,
    DuckDB: generated VALUES table — the PII_PATTERNS precedent), so no
    float computation ever crosses an engine boundary. score(tri) =
    round(log((c+1)/(total+V)) * LANGID_SCALE); miss(lang) =
    round(log(1/(total+V)) * LANGID_SCALE). V = distinct trigrams across
    ALL profiles (shared smoothing denominator vocabulary).
    """
    import math

    counts: dict[str, dict[str, int]] = {}
    for lang in langs:
        norm = _langid_norm_py(LANG_SEEDS[lang])
        c: dict[str, int] = {}
        for i in range(len(norm) - 2):
            t = norm[i : i + 3]
            c[t] = c.get(t, 0) + 1
        counts[lang] = c
    vocab = len({t for c in counts.values() for t in c})
    profiles: dict[str, dict[str, int]] = {}
    miss: dict[str, int] = {}
    for lang in langs:
        total = sum(counts[lang].values())
        denom = total + vocab
        profiles[lang] = {
            t: round(math.log((c + 1) / denom) * LANGID_SCALE)
            for t, c in sorted(counts[lang].items())
        }
        miss[lang] = round(math.log(1 / denom) * LANGID_SCALE)
    return profiles, miss


def langid_trigram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("de", "en", "es", "fr", "it", "pt"),
) -> DataFrame:
    """Multi-language character-trigram language ID (upgrades the binary
    ``lang_id`` stopword heuristic; the shape of langid.py / CLD over a
    fixed profile table).

    Per doc: normalize (lower, non-letters → single space, padded),
    extract overlapping char trigrams, score each language as the
    BIGINT sum of profile log-likelihoods (miss penalty for unseen
    trigrams), argmax with language-name tie-break; emit the winner,
    its score, the win margin over the runner-up, and the trigram count.

    Scale shape: ZERO shuffle — one scan, per-row fold over the trigram
    array against ~250-entry literal maps (6 langs ≈ 1.5k plan
    literals, constant per job, driver-bounded like the DSIR lambda
    table). Integer folds are order-independent and exact → hash-oracle
    parity needs no float pinning. For profile tables beyond ~100k
    entries use a broadcast-join explode form instead (same results,
    one local exchange).
    """
    profiles, miss = langid_profiles(langs)
    norm = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", " ")),
        F.lit(" "),
    )
    staged = df.withColumn("_norm", norm)  # materialized: 2 consumers, no CSE
    tris = F.when(
        F.length("_norm") >= 3,
        F.expr("transform(sequence(1, length(_norm) - 2), i -> substring(_norm, i, 3))"),
    ).otherwise(F.expr("array()").cast("array<string>"))
    staged = staged.withColumn("_tris", tris)
    def _fold(m, p):
        # closure factory, NOT default-arg binding: pyspark counts ALL
        # named lambda params when resolving HOF arity (CLAUDE.md trap)
        return lambda acc, t: acc + F.coalesce(F.element_at(m, t).cast("long"), p)

    from ngxspark.plankit import lit_str_long_map

    score_cols = {}
    for lang in langs:
        # one parsed map literal per language (was ~500 py4j calls each —
        # ~0.9 s of driver time per query build; r7, see plankit)
        m = lit_str_long_map(profiles[lang].items())
        score_cols[f"_s_{lang}"] = F.aggregate(
            F.col("_tris"),
            F.lit(0).cast("long"),
            _fold(m, F.lit(miss[lang]).cast("long")),
        )
    staged = staged.withColumns(score_cols)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-F.col(f"_s_{lang}")).alias("negs"), F.lit(lang).alias("lang")
                )
                for lang in langs
            ]
        )
    )
    staged = staged.withColumn("_ranked", ranked)
    best, second = F.get(F.col("_ranked"), 0), F.get(F.col("_ranked"), 1)
    return staged.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        (-best["negs"]).alias("top_score"),
        (second["negs"] - best["negs"]).alias("margin"),
        F.size("_tris").cast("long").alias("n_tris"),
    )


def ngram_diversity(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group distinct-n diversity audit (Li et al. 2016 "distinct-n";
    the standard templated/synthetic-data detector — a source whose
    distinct-gram/total-gram ratio collapses is generating from a
    template, exactly what corpus intake review looks for).

    diversity_fp = (distinct_grams · 1e6) DIV total_grams — BIGINT exact.

    100 TB shape: within-doc gram counts fold MAP-SIDE via the ngram_topk
    sort + run-length pattern (one (gram, cnt) struct per DISTINCT gram
    per doc crosses the wire), then ONE (group, gram)-keyed shuffle with
    map-side partial sums; the per-group rollup shuffles only one row per
    distinct gram per group. No countDistinct expand anywhere.
    """
    staged = (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_sg", F.array_sort(ngram_list(F.col("_toks"), n)))
        .withColumn(
            "_starts",
            F.filter(
                F.transform(F.col("_sg"), lambda x, i: i),
                lambda i: (i == F.lit(0))
                | (F.get(F.col("_sg"), i) != F.get(F.col("_sg"), i - 1)),
            ),
        )
    )
    pairs = staged.select(
        group_col,
        F.explode(
            F.transform(
                F.col("_starts"),
                lambda s, j: F.struct(
                    F.get(F.col("_sg"), s).alias("gram"),
                    (
                        F.coalesce(F.get(F.col("_starts"), j + 1), F.size(F.col("_sg")))
                        - s
                    )
                    .cast("long")
                    .alias("cnt"),
                ),
            )
        ).alias("p"),
    ).select(group_col, "p.gram", "p.cnt")
    # r7 note (verdict item 6, measured and REJECTED): shuffling a
    # fixed 128-bit hash of the gram (two-seed xxhash64 struct) instead
    # of the gram string was profiled interleaved vs this form at sf0.1
    # and the 20x replica — neutral at 20x (paired 1.06/1.05/0.82) and
    # ~1.1x SLOWER at 1x (the extra hashing exceeds the byte saving for
    # short n=2 grams). Keep the string key; re-visit only for long-gram
    # (n>=5) audits where key bytes dominate.
    per_gram = pairs.groupBy(group_col, "gram").agg(
        F.sum("cnt").cast("long").alias("_c")
    )
    return (
        per_gram.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("distinct_grams"),
            F.sum("_c").cast("long").alias("total_grams"),
        )
        .withColumn(
            "diversity_fp",
            F.expr("(distinct_grams * 1000000) DIV total_grams"),
        )
        .orderBy(group_col)
    )
