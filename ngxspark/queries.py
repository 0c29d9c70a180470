"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL
for every operator family (SURVEY.md §2 + training-data ops).

Design rule for oracle parity:
  * deterministic derivations only (no rand(), no xxhash64 in oracle-checked
    queries — md5 is the cross-engine hash);
  * every aggregate/computed column aliased identically on both sides;
  * timestamps are emitted as strings; DuckDB sums cast to BIGINT;
  * doubles rounded (2dp money, 4dp ratios, 6dp cosines).

The log-pipeline queries derive a synthetic transcript corpus from the
`orders` table with pure SQL arithmetic so BOTH engines can build it: the
Spark side renders combined-format lines and runs the REAL parse engine;
the oracle recomputes the expected fields directly. Equality therefore
proves parse(render(x)) == x independently per row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ngxspark.dedup import (
    lsh_candidate_groups,
    lsh_verified_pairs,
    minhash_signatures,
    simhash_fingerprints,
)
from ngxspark.enrich import enrich_status_class
from ngxspark.multimodal import extract_features, synthesize_media
from ngxspark.pipeline import ACCESS_SCHEMA, combined_plan
from ngxspark.parse import parse_lines
from ngxspark.route import route
from ngxspark.simsearch import (
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
    lsh_cosine_pairs,
)
from ngxspark.textops import doc_stats


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """The sf* tables are single parquet files → 1-2 input splits, which
    would serialize the parse UDF. Spread rows across all cores before the
    Python stage (cheap round-robin shuffle of (k, text)). At production
    scale the scan has thousands of splits and this step is dropped."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# Derived transcript corpus over `orders` (both engines)
# ---------------------------------------------------------------------------

# DuckDB CTE computing the expected typed fields (ground truth).
ORDERS_FIELDS_CTE = """
WITH t AS (
  SELECT o_orderkey AS k,
    printf('10.%d.%d.%d', o_orderkey%256, (o_orderkey*7)%256, (o_orderkey*13)%254+1) AS remote_addr,
    CASE WHEN o_orderkey%4=0 THEN '-' ELSE printf('u%04d', o_orderkey%1000) END AS remote_user,
    strftime(o_orderdate, '%d/%b/%Y:%H:%M:%S') || ' +0000' AS time_local,
    printf('GET /order/%d HTTP/1.1', o_orderkey) AS request,
    (CASE o_orderstatus WHEN 'F' THEN 200 WHEN 'O' THEN 301 WHEN 'P' THEN 503 ELSE 400 END)::BIGINT AS status,
    o_custkey AS body_bytes_sent,
    CASE WHEN o_orderkey%3=0 THEN '-' ELSE printf('https://ref.example/%d', o_orderkey%50) END AS http_referer,
    printf('agent/%d', o_orderkey%7) AS http_user_agent
  FROM orders
)
"""


def _orders_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of ORDERS_FIELDS_CTE."""
    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        k.alias("k"),
        F.format_string("10.%d.%d.%d", k % 256, (k * 7) % 256, (k * 13) % 254 + 1).alias(
            "remote_addr"
        ),
        F.when(k % 4 == 0, F.lit("-"))
        .otherwise(F.format_string("u%04d", k % 1000))
        .alias("remote_user"),
        F.concat(F.date_format("o_orderdate", "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")).alias(
            "time_local"
        ),
        F.format_string("GET /order/%d HTTP/1.1", k).alias("request"),
        F.when(F.col("o_orderstatus") == "F", 200)
        .when(F.col("o_orderstatus") == "O", 301)
        .when(F.col("o_orderstatus") == "P", 503)
        .otherwise(400)
        .cast("long")
        .alias("status"),
        F.col("o_custkey").alias("body_bytes_sent"),
        F.when(k % 3 == 0, F.lit("-"))
        .otherwise(F.format_string("https://ref.example/%d", k % 50))
        .alias("http_referer"),
        F.format_string("agent/%d", k % 7).alias("http_user_agent"),
    )


def _render_line(fields: DataFrame) -> DataFrame:
    """Combined-format line from the typed fields (pure JVM)."""
    return fields.withColumn(
        "text",
        F.format_string(
            '%s - %s [%s] "%s" %d %d "%s" "%s"',
            F.col("remote_addr"),
            F.col("remote_user"),
            F.col("time_local"),
            F.col("request"),
            F.col("status"),
            F.col("body_bytes_sent"),
            F.col("http_referer"),
            F.col("http_user_agent"),
        ),
    )


_PARSE_OUT = [
    "remote_addr",
    "remote_user",
    "time_local",
    "request",
    "status",
    "body_bytes_sent",
    "http_referer",
    "http_user_agent",
]


def q_parse_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render lines from orders, parse with the engine, emit typed fields.

    Oracle equality == per-row parse(render(x)) == x on 15k lines.
    """
    lines = _spread(_render_line(_orders_fields(spark, sf_dir)).select("k", "text"))
    parsed = parse_lines(lines, combined_plan())
    return parsed.filter(F.col("_matched")).select("k", *_PARSE_OUT)


def q_parse_escaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same, but the UA carries escaped quotes/backslashes — exercises the
    backslash-retry slow path on every row."""
    fields = _orders_fields(spark, sf_dir)
    lines = fields.withColumn(
        "text",
        F.format_string(
            '%s - - [t] "GET / HTTP/1.1" %d 0 "-" "agent \\"v%d\\" \\\\x"',
            F.col("remote_addr"),
            F.col("status"),
            F.col("k") % 9,
        ),
    ).select("k", "text")
    parsed = parse_lines(_spread(lines), combined_plan())
    return parsed.filter(F.col("_matched")).select(
        "k", "http_user_agent", "status"
    )


def q_parse_escaped_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """\\xHH escapes in a bound field: these rows are regex-matched on the
    JVM but their values carry hex escapes, so they exercise the Arrow
    unescape-kernel tier (the only remaining vectorized-Python tier for
    the default dialect)."""
    fields = _orders_fields(spark, sf_dir)
    lines = fields.withColumn(
        "text",
        F.format_string(
            '%s - - [t] "GET / HTTP/1.1" %d 0 "-" "hex \\x4%d end"',
            F.col("remote_addr"),
            F.col("status"),
            F.col("k") % 10,
        ),
    ).select("k", "text")
    parsed = parse_lines(_spread(lines), combined_plan())
    return parsed.filter(F.col("_matched")).select("k", "http_user_agent", "status")


def q_parse_json_escaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """escape=json lines whose values carry \\" escapes on EVERY row:
    exercises the clean-line json retry vectorization (escape-atom parity
    pattern + JVM simple-escape unescape) — round 1 sent all such rows to
    the per-row oracle."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    fields = _orders_fields(spark, sf_dir)
    lines = fields.withColumn(
        "text",
        F.format_string(
            '{"u":"agent \\"v%d\\"","s":%d}', F.col("k") % 9, F.col("status")
        ),
    ).select("k", "text")
    plan = plan_struct(
        compile_format('escape=json;{"u":"$u","s":$s}'), {"u": "string", "s": "int64"}
    )
    assert plan.esc_aware_clean
    parsed = parse_lines(_spread(lines), plan)
    return parsed.filter(F.col("_matched")).select("k", "u", "s")


def q_route_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt a deterministic slice of lines; parse → enrich → route →
    per-sink counts. Matches the oracle's CASE-derived routing exactly."""
    fields = _render_line(_orders_fields(spark, sf_dir))
    k = F.col("k")
    corrupted = fields.withColumn(
        "text",
        F.when(k % 23 == 0, F.format_string("corrupt<<%d", k))
        .when(
            k % 19 == 0,
            F.regexp_replace(
                F.col("text"), '" (\\d+) (\\d+) "', '" XX $2 "'
            ),
        )
        .otherwise(F.col("text")),
    ).select("k", "text")
    parsed = parse_lines(_spread(corrupted), combined_plan())
    routed = route(enrich_status_class(parsed))
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).orderBy("sink")


def q_status_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _spread(_render_line(_orders_fields(spark, sf_dir)).select("k", "text"))
    parsed = parse_lines(lines, combined_plan())
    enriched = enrich_status_class(parsed)
    return (
        enriched.groupBy("status_class").agg(F.count(F.lit(1)).alias("cnt")).orderBy("status_class")
    )


def q_render_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marshal direction: typed fields → combined line with dialect
    escaping (UA contains a raw quote that must escape). Runs the EXACT
    hybrid renderer — JVM expressions with the control-byte guard + masked
    oracle kernel (all rows here are clean, so the kernel sees NULLs)."""
    from ngxspark.fmtcompile import COMBINED_FMT, compile_format
    from ngxspark.render import render_lines

    fields = _orders_fields(spark, sf_dir).withColumn(
        "http_user_agent", F.format_string('agent "v%d"', F.col("k") % 9)
    )
    fmt = compile_format(COMBINED_FMT)
    return render_lines(fields, fmt, ACCESS_SCHEMA, out_col="line").select("k", "line")


def q_render_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-mode Marshal on the JVM (codec_map.go:64-85): discard variables
    emit nothing, values escape per dialect."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.render import render_map_expr

    fields = _orders_fields(spark, sf_dir).withColumn(
        "ua", F.format_string('agent "v%d"', F.col("k") % 9)
    )
    fmt = compile_format('$remote_addr $_ [$time_local] "$ua"')
    return fields.select("k", render_map_expr(fmt).alias("line"))


def q_conv_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase turns-per-conversation-bucket (md5 bucket so the
    oracle reproduces it; salting must not change counts)."""
    o = _read(spark, sf_dir, "orders")
    conv = F.format_string("conv-%06d", F.col("o_custkey"))
    bucket = (F.conv(F.substring(F.md5(conv), 1, 8), 16, 10).cast("long") % 64).alias(
        "conv_bucket"
    )
    salted = o.select(bucket, (F.col("o_orderkey") % 16).alias("_salt"))
    partial = salted.groupBy("conv_bucket", "_salt").agg(F.count(F.lit(1)).alias("_p"))
    return (
        partial.groupBy("conv_bucket")
        .agg(F.sum("_p").alias("cnt"))
        .orderBy("conv_bucket")
    )


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable intra-conversation ordering: first 3 events per user by
    (ts, event_id) — the Window.partitionBy(conv).orderBy(turn) shape."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type")
        .orderBy("user_id", "rn")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "cnt",
        )
        .orderBy("hour_start", "event_type")
    )


def q_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-map lookup enrich on events (tool-taxonomy shape): the
    five-entry family map rides in the task closure, so no broadcast job
    runs; an unmatched or NULL event_type gets a NULL family, as a left
    join would give."""
    e = _read(spark, sf_dir, "events")
    families = {
        "error": "alert",
        "click": "engagement",
        "view": "engagement",
        "purchase": "revenue",
        "signup": "growth",
    }
    family = F.create_map(*[F.lit(x) for kv in families.items() for x in kv])
    return (
        e.groupBy(family[F.col("event_type")].alias("family"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("family")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over lineitem."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + grouped revenue + deterministic top-10."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )


ERRORLOG_FMT = "$time_str [$level] $pid#$tid: *$cid $message, client: $client"
ERRORLOG_BINDINGS = {
    "time_str": "string",
    "level": "string",
    "pid": "int64",
    "tid": "int64",
    "cid": "int64",
    "message": "string",
    "client": "string",
}


def q_parse_errorlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nginx error-log-style custom format with 3 integer binds, derived
    from events; proves multi-format support beyond combined."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    e = _read(spark, sf_dir, "events")
    lines = e.select(
        F.col("event_id"),
        F.format_string(
            "%s [%s] %d#%d: *%d handling %s, client: 10.0.0.%d",
            F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
            F.col("event_type"),
            F.col("event_id") % 32768,
            F.col("user_id"),
            F.col("event_id"),
            F.col("event_type"),
            F.col("user_id") % 200,
        ).alias("text"),
    )
    plan = plan_struct(compile_format(ERRORLOG_FMT), ERRORLOG_BINDINGS)
    parsed = parse_lines(_spread(lines), plan)
    return parsed.filter(F.col("_matched")).select(
        "event_id", "time_str", "level", "pid", "tid", "cid", "message", "client"
    )


def q_parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """escape=json dialect format parsing the REAL events.props column."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    e = _read(spark, sf_dir, "events").select("event_id", F.col("props").alias("text"))
    plan = plan_struct(compile_format('escape=json;{"k": $k}'), {"k": "int64"})
    parsed = parse_lines(_spread(e), plan)
    return parsed.filter(F.col("_matched")).select("event_id", "k")


def q_parse_map_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-mode parse (codec_map.go shape): every variable captured as a
    raw string column."""
    from ngxspark.fmtcompile import COMBINED_FMT, compile_format
    from ngxspark.plan import plan_map

    lines = _spread(_render_line(_orders_fields(spark, sf_dir)).select("k", "text"))
    plan = plan_map(compile_format(COMBINED_FMT))
    parsed = parse_lines(lines, plan)
    return parsed.filter(F.col("_matched")).select("k", *_PARSE_OUT)


def q_parse_none_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """escape=none dialect: backslashes are plain literals (no retry, no
    unescape) — Windows-path-style lines from the part table; every row
    takes the JVM fast path."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    p = _read(spark, sf_dir, "part")
    lines = p.select(
        F.col("p_partkey"),
        F.format_string(
            "C:\\data\\%s\\%d.bin|%d|%s", F.col("p_brand"), F.col("p_partkey"),
            F.col("p_size"), F.col("p_type"),
        ).alias("text"),
    )
    fmt = compile_format("escape=none;C:\\data\\$brand\\${key}.bin|$size|$type")
    plan = plan_struct(
        fmt, {"brand": "string", "key": "int64", "size": "int32", "type": "string"}
    )
    parsed = parse_lines(_spread(lines), plan)
    return parsed.filter(F.col("_matched")).select("p_partkey", "brand", "key", "size", "type")


def q_typed_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scalar-codec coverage in the gate: bool, int16, uint32, string
    binds in one format (codec.go type dispatch)."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    e = _read(spark, sf_dir, "events")
    lines = e.select(
        F.col("event_id"),
        F.format_string(
            "ok=%s n=%d u=%d tag=%s",
            F.when(F.col("event_type") == "click", F.lit("true")).otherwise(F.lit("false")),
            F.col("event_id") % 10000,
            F.col("user_id"),
            F.col("event_type"),
        ).alias("text"),
    )
    plan = plan_struct(
        compile_format("ok=$ok n=$n u=$u tag=$tag"),
        {"ok": "bool", "n": "int16", "u": "uint32", "tag": "string"},
    )
    parsed = parse_lines(_spread(lines), plan)
    return parsed.filter(F.col("_matched")).select("event_id", "ok", "n", "u", "tag")


APPLOG_FMT = 'LEVEL=$level msg="$msg" code=$code'


def q_multi_format_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-fallback chain: try combined, then an app-log format; count
    rows per winning format (multi-format log stores route this way)."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.plan import plan_struct

    fields = _render_line(_orders_fields(spark, sf_dir))
    k = F.col("k")
    mixed = fields.withColumn(
        "text",
        F.when(
            k % 5 == 0,
            F.format_string(
                'LEVEL=%s msg="order %d" code=%d',
                F.when(k % 2 == 0, F.lit("warn")).otherwise(F.lit("info")),
                k,
                k % 100,
            ),
        ).otherwise(F.col("text")),
    ).select("k", "text")
    from ngxspark.parse import parse_fallback_chain

    p1 = combined_plan()
    p2 = plan_struct(
        compile_format(APPLOG_FMT), {"level": "string", "msg": "string", "code": "int64"}
    )
    # short-circuit chain: the applog parse UDF sees NULL for every row the
    # combined plan already matched (~1× parse cost for the whole chain)
    parsed = parse_fallback_chain(_spread(mixed), {"combined": p1, "applog": p2})
    return (
        parsed.select(F.coalesce(F.col("_fmt"), F.lit("reject")).alias("fmt"))
        .groupBy("fmt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("fmt")
    )


# ---------------------------------------------------------------------------
# Training-data operators over documents / embeddings
# ---------------------------------------------------------------------------


def _docs_with_dups(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """documents ∪ deterministic duplicates (doc_id<25 re-emitted at
    id+1000000) so dedup queries have positives; the oracle unions the
    same CTE. ``spread=True`` repartitions the 1-2 input splits of the
    single-file sandbox table so per-row hashing HOFs parallelize (dropped
    at production scale — the scan has splits); pass False for operators
    whose first step is a shuffle anyway (e.g. exact dedup's hash agg)."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    out = d.unionByName(dups)
    return _spread(out) if spread else out


DOCS_DUPS_CTE = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread: the md5 groupBy shuffles anyway (partial agg map-side)
    d = _docs_with_dups(spark, sf_dir, spread=False)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("text_hash")
    )


def q_dedup_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup over the dup-injected corpus: every copy kept, weight
    = 1e9 DIV n_copies fixed-point — unique docs read 1e9, the planted
    pairs 5e8 each. See dedup.dedup_soft_weights."""
    from ngxspark.dedup import dedup_soft_weights

    return dedup_soft_weights(_docs_with_dups(spark, sf_dir, spread=False))


def q_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup (Pile/Dolma rule): dup copies are
    re-emitted under a 'curated' source with priority 0, originals
    default to 2 via a broadcast source->priority join — so the kept
    representative of every dup group is the HIGH-id curated copy,
    provably not min-id dedup. One digest-keyed shuffle, BHJ enrich."""
    from ngxspark.dedup import dedup_priority

    d = _read(spark, sf_dir, "documents").select("doc_id", "source", "text")
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("curated").alias("source"),
        "text",
    )
    docs = d.unionByName(dups)
    prio = spark.createDataFrame([("curated", 0)], "source string, priority int")
    joined = docs.join(F.broadcast(prio), "source", "left").withColumn(
        "priority", F.coalesce(F.col("priority"), F.lit(2))
    )
    kept = dedup_priority(joined)
    return kept.select(
        "doc_id", "source", F.md5("text").alias("text_hash")
    ).orderBy("doc_id")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return minhash_signatures(d).orderBy("doc_id")


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_groups(_docs_with_dups(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity over a bounded block with injected
    duplicates (production path pre-filters candidates with LSH)."""
    from ngxspark.dedup import ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 150)
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return ngram_jaccard_pairs(d.unionByName(dups), threshold=0.5, max_id=None)


def q_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production dedup path over the FULL corpus: LSH bands →
    in-band pair expansion → Jaccard verify on candidates only (no cross
    join anywhere — see dedup.lsh_verified_pairs)."""
    return lsh_verified_pairs(_docs_with_dups(spark, sf_dir), threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash_fingerprints(d).orderBy("doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: bucket by the fingerprint's high byte, pair
    within buckets, Hamming-verify — the third dedup composition shape."""
    from ngxspark.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs_with_dups(spark, sf_dir), max_hamming=2)


_BENCH_IDS = (10, 20, 30, 40, 50)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (GPT-3/Gopher 13-gram rule): docs
    10/20/30/40/50 act as the benchmark; the training side is every other
    doc plus planted contaminated copies (benchmark text embedded inside
    extra tokens — sharing every original 13-gram). Detection is a
    broadcast semi-join of hashed grams; see textops.decontaminate."""
    from ngxspark.textops import decontaminate

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id").isin(*_BENCH_IDS))
    clean = d.filter(~F.col("doc_id").isin(*_BENCH_IDS))
    planted = bench.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("alpha beta "), F.col("text"), F.lit(" gamma")).alias("text"),
    )
    out = decontaminate(_spread(clean.unionByName(planted)), bench, n=13)
    # boolean → int for a dtype-stable cross-engine hash
    return out.select(
        "doc_id", "n_hit_grams", F.col("contaminated").cast("int").alias("contaminated")
    )


def _ingestion_corpus_batch(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared corpus/batch split for the exact ingestion gates
    (dedup_incremental, bloom_dedup — their oracles union the same
    pieces): corpus = docs < 400; batch = fresh docs >= 400 plus planted
    corpus copies (+2000000) and within-batch copies (+3000000)."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 400)
    fresh = d.filter(F.col("doc_id") >= 400)
    dup_old = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    dup_in = fresh.filter(F.col("doc_id") < 420).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    return corpus, fresh.unionByName(dup_old).unionByName(dup_in)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot ingestion dedup: a new batch (docs >= 400, plus planted
    copies of corpus docs AND within-batch copies) dedupes against the
    already-kept corpus (docs < 400) — survivors are first-in-batch AND
    unseen-in-corpus. See dedup.incremental_dedup."""
    from ngxspark.dedup import incremental_dedup

    corpus, batch = _ingestion_corpus_batch(spark, sf_dir)
    return incremental_dedup(_spread(batch), corpus)


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated snapshot ingestion over the SAME batch construction as
    dedup_incremental (planted corpus copies + within-batch copies): the
    corpus digest set compresses into a 4096-bit / k=3 Bloom bitmap and
    the batch probes it. m_bits is deliberately SMALL for the gate so the
    false-positive path is exercised for real (fill ~26% at sf0.01 ->
    ~2% of genuinely-fresh docs dropped, md5-deterministic, reproduced
    exactly by the oracle). See dedup.bloom_incremental_dedup."""
    from ngxspark.dedup import bloom_incremental_dedup

    corpus, batch = _ingestion_corpus_batch(spark, sf_dir)
    return bloom_incremental_dedup(_spread(batch), corpus, m_bits=4096, k=3)


def q_incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy snapshot-ingestion gate: the batch (docs >= 400) carries
    planted NEAR-dup corpus copies (' zq zq' appended — bigram Jaccard
    stays high for normal-length docs), EXACT corpus copies (fuzzy path
    subsumes them at Jaccard 1.0), and within-batch exact copies;
    survivors are first-in-batch on digest AND not near-dup of any
    corpus doc (verified Jaccard >= 0.5 on LSH band candidates)."""
    from ngxspark.dedup import incremental_lsh_dedup

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 400)
    fresh = d.filter(F.col("doc_id") >= 400)
    near_old = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq zq")).alias("text"),
    )
    exact_old = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 2500000).alias("doc_id"), "text"
    )
    dup_in = fresh.filter(F.col("doc_id") < 420).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    batch = fresh.unionByName(near_old).unionByName(exact_old).unionByName(dup_in)
    return incremental_lsh_dedup(_spread(batch), corpus, threshold=0.5)


_PII_PLANT = " reach bob.smith@example.com or 10.0.42.7 or 555-123-4567"


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub gate: every 10th doc gets a planted email + IPv4
    + phone appended, then textops.redact_pii replaces them with typed
    placeholders. The value hash compares the full redacted strings, so
    this pins Java-regex vs RE2 replace parity end to end."""
    from ngxspark.textops import redact_pii

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(_PII_PLANT))
        ).otherwise(F.col("text")).alias("text"),
    )
    return redact_pii(_spread(d)).orderBy("doc_id")


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate docs per deterministic
    shard, chunk the token stream into 512-token bins, emit (doc, bin)
    overlaps — see textops.pack_chunks."""
    from ngxspark.textops import pack_chunks

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_chunks(_spread(d), bin_tokens=512, n_shards=8)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing gate: at most 30 docs per length stratum
    (floor(n_tokens/20)), picked in md5(id) order — deterministic,
    partitioning-invariant, SQL-reproducible."""
    from ngxspark.textops import stratified_sample, tokens

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    stratum = F.floor(F.size(tokens(F.col("text"))) / 20).cast("long")
    return stratified_sample(d, stratum, quota=30)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixing gate (mT5 rule, T=2): a 150-doc budget
    split across length strata with quota ∝ sqrt(stratum size) — the
    budget binds in EVERY stratum at both gate SFs (the smallest
    stratum holds ~9% of docs but draws ~13% of budget: the sqrt
    upweighting is visible in the hashed quota column). sqrt is
    IEEE-exact in both engines, and the fixed-point BIGINT weight fold
    + DIV floor allocation make the quota table (and so the kept set
    and ranks) hash-reproducible in DuckDB."""
    from ngxspark.textops import temperature_mix, tokens

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    stratum = F.floor(F.size(tokens(F.col("text"))) / 20).cast("long")
    return temperature_mix(d, stratum, n_total=150, temperature=2.0)


def q_repeat_factor_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-upsampling gate (LLaMA/Dolma repeat factors, T=2): a 3×
    corpus budget over the length strata — the smallest stratum hits
    the max_repeat=4 clamp, mid strata land at base 2-3 epochs with a
    fractional md5-threshold extra, so all three regimes (clamp, base+
    Bernoulli, fraction-only) are value-hashed. The budget is derived
    in-engine (3·count) so the same query exercises the repeat regime
    at every SF."""
    from ngxspark.textops import repeat_factor_mix, tokens

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    stratum = F.floor(F.size(tokens(F.col("text"))) / 20).cast("long")
    return repeat_factor_mix(d, stratum, n_total=3 * d.count(), temperature=2.0)


def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixing gate (Chung et al. 2023): a 2× corpus budget over
    the length strata with a 4-epoch cap — the smallest stratum takes
    its full cap (c*4) and the freed budget flows to the larger strata's
    uniform share, so both allocation branches are value-hashed; the
    epoch emission reuses the repeat recipe kernel."""
    from ngxspark.textops import tokens, unimax_mix

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    stratum = F.floor(F.size(tokens(F.col("text"))) / 20).cast("long")
    return unimax_mix(d, stratum, n_total=2 * d.count(), max_epochs=4)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the
    LSH-verified pair graph on the dup-injected corpus — cluster_id =
    min doc id in the component; every doc gets a row (isolated docs
    are singletons). The principled alternative to greedy
    drop-higher-id pair deletion, via large-star/small-star CC (Kiveris
    et al.). Also registered as ``dedup_clusters_star``, the name the
    bench.py suite times. Oracle: recursive-CTE reachability + min over
    sources (the unique min-label fixpoint)."""
    from ngxspark.dedup import connected_components

    docs = _docs_with_dups(spark, sf_dir)
    pairs = lsh_verified_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return connected_components(docs.select("doc_id"), pairs)


_KEEP_BEST_TAIL = " the quick brown fox and the lazy dog"


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup representative gate: dup copies (docs < 25
    re-emitted at id+1000000) get a stopword/alpha-rich tail appended —
    still near-dups of their originals (bigram Jaccard stays >= 0.5 for
    normal-length docs) but often HIGHER quality_score, so the kept
    representative of those clusters is provably not min-id whenever
    the tail lifts the score. Pipeline: verified pairs → star CC →
    keep argmax(quality, tie min id) per cluster."""
    from ngxspark.dedup import cluster_representatives, connected_components
    from ngxspark.textops import quality_score

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_KEEP_BEST_TAIL)).alias("text"),
    )
    docs = _spread(d.unionByName(dups))
    pairs = lsh_verified_pairs(docs, threshold=0.5).select("id_a", "id_b")
    cc = connected_components(docs.select("doc_id"), pairs)
    scored = docs.select("doc_id", quality_score(F.col("text")).alias("score"))
    return cluster_representatives(cc, scored)


_URL_BLOCKLIST = ["ads.example.com", "spam.example.net"]


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style domain filter gate: every 7th doc gets a blocklisted-domain
    URL planted, every 5th a benign one; url_stats extracts domains
    (Java-regex ≡ RE2 on the conservative pattern — the full domains
    string is value-hashed) and flags blocklist hits."""
    from ngxspark.textops import url_stats

    k = F.col("doc_id")
    planted = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(k % 7 == 0, F.format_string(" see https://ads.example.com/t%d now", k)).otherwise(F.lit("")),
                F.when(k % 5 == 0, F.format_string(" ref https://ok.example.org/p%d end", k)).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    return url_stats(_spread(planted), _URL_BLOCKLIST).orderBy("doc_id")


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing: per length stratum (floor(n_tokens/20)),
    keep the maximal md5-order prefix of docs whose cumulative token
    count stays ≤ 2000 — the mixture recipe unit is tokens, not docs."""
    from ngxspark.textops import token_budget_sample, tokens

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    stratum = F.floor(F.size(tokens(F.col("text"))) / 20).cast("long")
    return token_budget_sample(d, stratum, token_budget=2000)


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document segment-level dedup (C4/RefinedWeb line-level dedup
    over 10-token segments): corpus-wide keep-first on exact segment
    content, docs reassembled from survivors — catches cross-document
    boilerplate that document-level dedup can't. Runs on the
    dup-injected corpus so whole-copy docs collapse to empty and shared
    segments thin out."""
    from ngxspark.textops import dedup_segments

    return dedup_segments(_docs_with_dups(spark, sf_dir))


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. ExactSubstr dedup on the dup-injected corpus: 20-token
    duplicate windows removed from every occurrence but the global
    first — injected whole-copy docs collapse to empty; naturally shared
    spans thin out. Positional-index shape, no suffix array, no
    all-pairs."""
    from ngxspark.textops import exact_substring_dedup

    return exact_substring_dedup(_docs_with_dups(spark, sf_dir), span_tokens=20)


def q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit PRODUCTION-width SimHash fingerprints (token hash = first 16
    md5 hex chars as a two's-complement long) — oracle-checked via a DuckDB
    UBIGINT bit-pattern CTE, closing the last untested production
    configuration (the 16-bit gate alone never exercised the hi<<32|lo
    composition or the sign-bit vote)."""
    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash_fingerprints(d, width=64).orderBy("doc_id")


def q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs on the 64-bit fingerprint — pigeonhole banding (4
    bands of 16 bits, exact at Hamming <= 3) checked against a GROUND-TRUTH
    all-pairs oracle, so banding recall is verified at production width
    too, not just at width=16."""
    from ngxspark.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        _docs_with_dups(spark, sf_dir), max_hamming=3, width=64
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality filters: duplicate 2/3-gram
    fraction, symbol-to-word ratio, chars per distinct token — the
    pre-dedup quality gate of an LLM-corpus curation pipeline."""
    from ngxspark.textops import repetition_stats

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return repetition_stats(d).orderBy("doc_id")


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher doc-level quality battery (Rae et al. 2021, Table A1):
    word-count band, mean-word-length band, symbol ratio, alphabetic-word
    fraction, the >= 2-stopwords rule, and the dup-2/3-gram caps, with a
    conjunctive keep verdict — the complete pre-dedup document filter of
    a Gopher/MassiveText-style curation pipeline (repetition_stats covers
    the repetition signals alone; this is the full verdict table)."""
    from ngxspark.textops import gopher_filters

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return gopher_filters(d, min_words=20).orderBy("doc_id")


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet normalization-robust dedup gate: docs plus UPPER-cased
    mutated copies (doc_id < 10, +3000000 ids) that plain md5 exact
    dedup provably cannot cluster — the normalized digest must cluster
    each mutant with its original (keep = min id). One fixed-width
    digest shuffle, window keep-first, no join."""
    from ngxspark.dedup import dedup_normalized

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    muts = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), F.upper(F.col("text")).alias("text")
    )
    return dedup_normalized(_spread(d.unionByName(muts)))


def q_enrich_ip_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoIP-style CIDR enrich gate: the derived transcript fields'
    remote_addr (10.x.y.z arithmetic both engines share) is range-joined
    against the IP_RANGES dimension — Spark via the /16-prefix-expanded
    broadcast EQUI-join (no BNLJ), the oracle via a naive BETWEEN join —
    and rolled up per label. The deliberate 10.176.0.0/12 coverage gap
    exercises the 'unknown' path."""
    from ngxspark.enrich import enrich_ip_range

    fields = _spread(_orders_fields(spark, sf_dir).select("k", "remote_addr"))
    out = enrich_ip_range(fields, "remote_addr")
    return (
        out.groupBy("ip_label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("_ip_int").alias("n_ips"),
        )
        .orderBy("ip_label")
    )


def q_error_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate anomaly gate over `events`: fixed-point BIGINT
    mean/σ-test (no sqrt, no float division) so the spike flags are
    engine-exact across all 720 hours."""
    from ngxspark.aggregate import error_spike_hours

    return error_spike_hours(_read(spark, sf_dir, "events"))


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keyword extraction over `documents`: BIGINT
    scores (floor-scaled ln idf per DISTINCT term, BM25 precedent), term-
    string tiebreak → total order. Map-side run-length tf; ONE term-keyed
    exchange shared by the df agg and the score join."""
    from ngxspark.retrieval import tfidf_topk_terms

    return tfidf_topk_terms(_spread(_read(spark, sf_dir, "documents")), k=5)


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding decontamination gate: eval set = every 50th vector;
    training side = the rest PLUS the eval vectors re-id'd (+2000000) as
    planted leaks (max_sim exactly 1.0). The eval matrix is broadcast to
    one mapInPandas BLAS kernel that keeps each training row's max cosine
    (no join, no shuffle before the sort); 6dp round after the
    order-independent max."""
    from ngxspark.simsearch import semantic_decontaminate

    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = e.filter(F.col("vec_id") % 50 == 0)
    train = e.filter(F.col("vec_id") % 50 != 0).unionByName(
        ev.select((F.col("vec_id") + 2000000).alias("vec_id"), "embedding")
    )
    return semantic_decontaminate(_spread(train), ev, threshold=0.95)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-2-gram diversity audit gate: the corpus per source PLUS a
    planted 'templated' source (every 11th doc's text replaced by one
    fixed sentence) whose diversity_fp must collapse toward
    distinct/total of a constant — the synthetic-data-intake signal."""
    from ngxspark.textops import ngram_diversity

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    plant = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        F.lit("the same template line repeats here").alias("text"),
        F.lit("templated").alias("source"),
    )
    return ngram_diversity(_spread(d.unionByName(plant)), n=2)


def q_langid_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-language trigram language-ID gate: the (English) corpus plus
    planted foreign docs (doc_id < 48, text = the language seed paragraph
    cycled by doc_id % 6) — the classifier must label the plants with
    their seed language and the base corpus deterministically. Zero
    shuffle; BIGINT scores are engine-exact."""
    from ngxspark.textops import LANG_SEEDS, langid_trigram

    seeds = [LANG_SEEDS[lang] for lang in sorted(LANG_SEEDS)]
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    muts = d.filter(F.col("doc_id") < 48).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in seeds]),
            (F.col("doc_id") % 6 + 1).cast("int"),
        ).alias("text"),
    )
    return langid_trigram(_spread(d.unionByName(muts))).orderBy("doc_id")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-content audit gate: the corpus plus two
    mirror sources (every 7th doc into mirror_a, every 13th into
    mirror_b — so mirror_a ∩ mirror_b is the non-empty doc_id % 91
    stratum) — the overlap matrix counts distinct shared digests per
    source pair. One digest shuffle; set sizes bounded by #sources."""
    from ngxspark.dedup import source_overlap

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    ma = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 6000000).alias("doc_id"), "text", F.lit("mirror_a").alias("source")
    )
    mb = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 7000000).alias("doc_id"), "text", F.lit("mirror_b").alias("source")
    )
    return source_overlap(_spread(d.unionByName(ma).unionByName(mb)))


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RedPajama-V2-style ONE-PASS quality-signal extraction: the full
    doc_stats + repetition_stats + Gopher signal set from a single scan
    with each token/gram array materialized once — the extract-once /
    filter-narrow shape of a 100 TB curation run. Values are identical
    to the component operators (pinned by test)."""
    from ngxspark.textops import quality_signals

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return quality_signals(d).orderBy("doc_id")


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD-style corpus n-gram audit: top-20 3-grams by total
    occurrences with per-gram distinct-doc spread — one gram-keyed
    shuffle (map-side partial count + two-phase distinct agg), TakeOrdered
    top-k, ties broken on the gram string (total order → hash-exact)."""
    from ngxspark.textops import ngram_topk

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return ngram_topk(d, n=3, k=20)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval top-k (Okapi, k1=1.2 b=0.75) — the lexical
    counterpart to the embedding-ANN queries: per-query term frequencies
    are pure JVM filter-counts over one corpus scan, corpus stats (N, T,
    per-term df) come from one tiny broadcast aggregate, and scoring is
    exact fixed-point BIGINT algebra (ln is the only float op, evaluated
    once per query term) — see retrieval.py for the 22*tf*T derivation."""
    from ngxspark.retrieval import bm25_topk

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return bm25_topk(d, k=10)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS, SIGMOD'03): min-hash per
    w-window of char k-gram hashes — any shared substring of length
    >= k+w-1 guarantees a shared fingerprint (local-similarity dual of
    SimHash's global similarity)."""
    from ngxspark.dedup import winnow_fingerprints

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return winnow_fingerprints(d, k=8, w=4).orderBy("doc_id", "fp")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates by shared winnowing fingerprints over the
    dup-injected corpus: fingerprint-local equi-join, per-pair shared-fp
    count, threshold. max_bucket=50 is the explicit boilerplate guard —
    the synthetic corpus is heavily templated (at sf0.1 one fingerprint is
    shared by 68% of docs; expanding it is quadratic by construction), and
    fps shared by huge corpus fractions carry no dedup signal anyway
    (classic idf logic). The oracle applies the SAME guard."""
    from ngxspark.dedup import winnow_candidate_pairs

    return winnow_candidate_pairs(
        _docs_with_dups(spark, sf_dir), k=8, w=4, min_shared=2, max_bucket=50
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_read(spark, sf_dir, "documents"))
    return doc_stats(d).orderBy("doc_id")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _spread(_read(spark, sf_dir, "embeddings"))
    return brute_force_topk(e, query_ids=[0, 1, 2, 3, 4], k=5)


def q_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups with injected positives (vec_id<10 duplicated)
    over the FULL corpus via the composed LSH-bucket path — bucket once,
    pair within buckets, verify; no bounded block, no cross join (the
    round-1 BNLJ was this pipeline's slowest query)."""
    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return lsh_cosine_pairs(
        _spread(e.unionByName(dups)), threshold=0.99, n_planes=6, dim=64
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup gate: dup-injected embeddings (vec_id<10 duplicated),
    16 seeded k-means cells, in-cell cosine ≥ 0.99, star components,
    keep = min-id representative per semantic cluster. Oracle: seeded
    assignment CTE + recursive-CTE reachability."""
    from ngxspark.simsearch import semdedup

    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return semdedup(_spread(e.unionByName(dups)), threshold=0.99)


def q_d4_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 curation gate (SemDeDup + SSL-prototype pruning): same
    dup-injected embeddings as the semdedup gate, then per-cell
    prototype ranking of the survivors (cosine to own seeded centroid,
    6dp) with an exact integer 25% cut — sem_keep, proto_rank, and the
    final keep verdict all value-hashed against the recursive-CTE +
    window oracle."""
    from ngxspark.simsearch import d4_prune

    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return d4_prune(_spread(e.unionByName(dups)), threshold=0.99, prune_pct=25)


def q_near_dup_cosine_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table variant of the embedding near-dup path (n_tables=4
    independent plane sets, union-of-band-joins deduped before the cosine
    verify) — the recall dial for near-dups that straddle a hyperplane in
    one table but not all four."""
    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return lsh_cosine_pairs(
        _spread(e.unionByName(dups)), threshold=0.99, n_planes=6, dim=64, n_tables=4
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — oracle-checked: the md5-hyperplane bucket
    assignment is deterministic and reproduced in DuckDB (planes CTE);
    recall vs brute force is additionally validated in tests."""
    e = _spread(_read(spark, sf_dir, "embeddings"))
    return lsh_ann_topk(e, query_ids=[0, 1, 2, 3, 4], k=5, n_planes=4, dim=64)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN with one Lloyd re-centering iteration, hash-oracled:
    exact_means=True makes the per-cell mean a deterministic two-level
    summation tree (simsearch._det_cell_means), so every stage — seed
    assignment, re-center, re-assign, probe, score — is bitwise
    SQL-reproducible (the DuckDB oracle replays the same fold order)."""
    e = _spread(_read(spark, sf_dir, "embeddings"))
    return ivf_ann_topk(
        e, query_ids=[0, 1, 2, 3, 4], k=5, n_centroids=16, n_probe=3, exact_means=True
    )


def q_lsh_ann_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN (4 independent plane sets — the recall/cost
    dial; recall@5 0.18→0.56 vs single-table on this table). The exploded
    (table, bucket) equi-join and candidate dedupe are all
    SQL-reproducible."""
    e = _spread(_read(spark, sf_dir, "embeddings"))
    return lsh_ann_topk(e, query_ids=[0, 1, 2, 3, 4], k=5, n_planes=4, dim=64, n_tables=4)


def q_ivf_ann_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the deterministic seed centroids (n_iter=0): every stage —
    coarse assignment, probe selection, candidate scoring — is
    SQL-reproducible, giving the IVF join SHAPE a full hash-checked
    oracle. (q_ivf_ann_topk adds one Lloyd iteration and is ALSO
    hash-oracled since round 3 via exact_means=True — the deterministic
    two-level summation tree in simsearch._det_cell_means — so both the
    seeded and the refined configurations are gate-checked; the
    production default exact_means=False keeps the cheaper partial-agg
    avg whose per-cell means are partition-order-dependent in the last
    ulp.)"""
    e = _spread(_read(spark, sf_dir, "embeddings"))
    return ivf_ann_topk(
        e, query_ids=[0, 1, 2, 3, 4], k=5, n_centroids=16, n_probe=3, n_iter=0
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE query:
    quality filter → exact dedup (keep min id per content hash) →
    LSH-verified near-dup removal (drop the higher id of each pair) →
    surviving-corpus summary. Every stage is the oracle-checked operator
    used elsewhere; the composition itself is what a 100 TB curation run
    executes (no cross joins, bucket-local pair expansion, one summary
    row out). The single-plan form here proves the composition end to
    end against the SQL oracle; curation.curate_corpus(staged_dir=...)
    is the production write-intermediates form (same stage builders,
    bit-identical summary — see corpus_curation_staged)."""
    from ngxspark.curation import curate_corpus

    return curate_corpus(_docs_with_dups(spark, sf_dir))


def q_corpus_curation_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STAGED curation pipeline: each stage materializes to a
    manifest-tracked parquet table (quality → deduped → curated) with
    resume-from-last-completed-stage semantics; summary computed from
    the curated table. Same oracle as corpus_curation — the two modes
    must hash-match.

    The staging dir outlives this call (atexit cleanup) so the returned
    DataFrame stays a LAZY scan over the staged parquet — the r5 gate
    form collect()ed the full curated table through the driver and
    rebuilt it with createDataFrame, an O(corpus) driver materialization
    the production curate_corpus path never had (r5 judge finding)."""
    import atexit
    import shutil
    import tempfile

    from ngxspark.curation import curate_corpus

    staged_dir = tempfile.mkdtemp(prefix="ngxspark_curation_")
    atexit.register(shutil.rmtree, staged_dir, ignore_errors=True)
    try:
        return curate_corpus(_docs_with_dups(spark, sf_dir), staged_dir=staged_dir)
    except Exception:
        shutil.rmtree(staged_dir, ignore_errors=True)
        raise


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: token explode → count → deterministic top-20.
    Scale shape: partial-aggregated explode (map-side combine on the token
    hash), one shuffle keyed by token; the top-k is a single reduction."""
    d = _spread(_read(spark, sf_dir, "documents"))
    toks = d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (batch form): a new
    session starts after >30 min of inactivity per user — lag + running
    sum of session breaks, then per-session aggregates. The streaming
    twin is session_window (streaming.py); this is the backfill shape."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff is calendrical — identical on TIMESTAMP_NTZ in any
    # session timezone (epoch casts are not)
    gapped = e.withColumn("_prev", F.lag("ts").over(w)).withColumn(
        "_new",
        F.when(F.expr("timestampdiff(MICROSECOND, _prev, ts)") > 1800 * 1000000, 1)
        .otherwise(0)
        .cast("long"),
    )
    sess = gapped.withColumn("session_ix", F.sum("_new").over(w))
    return (
        sess.groupBy("user_id", "session_ix")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .orderBy("user_id", "session_ix")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing — oracle-checked: the synthetic media table is
    md5-derived end to end, so kind/n_bytes are SQL-reproducible (the
    decode kernel itself is still the declared stub; its feature vector is
    covered by tests, not the gate)."""
    d = _read(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    media = synthesize_media(d)
    return extract_features(media).select("media_id", "kind", "n_bytes").orderBy("media_id")


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing: mean NLL under a corpus-trained
    unigram LM (top-16 vocab + OOV floor), fixed head/middle/tail
    cutoffs. Pass 1 is the only shuffle (token counts); pass 2 is a
    shuffle-free fold against a broadcast literal map."""
    from ngxspark.textops import lm_quality

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return lm_quality(d).orderBy("doc_id")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier: logit = mean of
    md5-bucketed unigram+bigram weights (deterministic stand-in for
    trained weights); keep iff logit > 0. Zero shuffles — one codegen
    scan with a literal weight table."""
    from ngxspark.textops import quality_classifier

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    return quality_classifier(d).orderBy("doc_id")


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) importance selection: the raw pool is the
    whole documents table; the target distribution is the doc_id % 7 == 0
    subset (a stand-in for a curated target corpus); keep the top 200
    docs by hashed-bigram importance log-ratio. Integer-scaled lambdas
    make the per-doc fold hash-exact. See textops.dsir_sample."""
    from ngxspark.textops import dsir_sample

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    target = d.filter(F.col("doc_id") % 7 == 0)
    return dsir_sample(d, target, n=200)


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profiling (monitoring stage): doc counts, exact
    token-length distribution (mean/sd from exact integer sums,
    percentiles), mean quality. Gate uses exact percentiles (same
    gate-vs-production duality as IVF exact_means); production uses the
    mergeable approx_percentile sketch."""
    from ngxspark.textops import corpus_profile

    d = _spread(_read(spark, sf_dir, "documents").select("source", "text"))
    return corpus_profile(d, exact=True)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-CCNet per-stratum bucketing: head/middle/tail from each
    source's OWN avg_nll tertiles (corpus-trained unigram LM). Gate uses
    the exact percentile aggregate; production the approx sketch — the
    corpus_profile duality. See textops.ccnet_buckets."""
    from ngxspark.textops import ccnet_buckets

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return ccnet_buckets(d, F.col("source"), exact=True)


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc → (shard of 16,
    1-based position) in md5(id) order; two-phase position so no shard
    is ranked on a single task. See textops.shuffle_shards."""
    from ngxspark.textops import shuffle_shards

    d = _spread(_read(spark, sf_dir, "documents").select("doc_id"))
    return shuffle_shards(d, n_shards=16)


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-LSH + verified-Jaccard) decontamination: docs
    10/20/30/40/50 are the benchmark; the training side is every other
    doc plus planted NEAR-copies (' zq zq'-suffixed, no longer exact)
    and exact copies of the benchmark. The benchmark band index and
    shingle sets broadcast — zero shuffle of training text. See
    dedup.fuzzy_decontaminate."""
    from ngxspark.dedup import fuzzy_decontaminate

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id").isin(*_BENCH_IDS))
    train = d.filter(~F.col("doc_id").isin(*_BENCH_IDS))
    near = bench.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq zq")).alias("text"),
    )
    exact = bench.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
    pool = _spread(train.unionByName(near).unionByName(exact))
    return fuzzy_decontaminate(pool, bench, threshold=0.5)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB) — one per oracle-checked query
# ---------------------------------------------------------------------------

_STOP_SQL = "['the','a','of','and','to','in','is','it','that','for']"


def _tfidf_oracle() -> str:
    from ngxspark.retrieval import tfidf_oracle

    return tfidf_oracle(k=5)


def _ip_ranges_oracle() -> str:
    """Generated from enrich.IP_RANGES/cidr_bounds so the range literals
    can never drift from the Spark dimension (PII_PATTERNS precedent).
    The oracle does the naive BETWEEN range join (DuckDB IEJoin); Spark
    does the /16-prefix-expanded equi-join — same matrix proves the
    expansion correct."""
    from ngxspark.enrich import IP_RANGES, cidr_bounds

    rows = ", ".join(
        f"({cidr_bounds(c)[0]}, {cidr_bounds(c)[1]}, '{label}')" for c, label in IP_RANGES
    )
    return (
        ORDERS_FIELDS_CTE
        + f"""
        , ip AS (
          SELECT k,
            string_split(remote_addr, '.')[1]::BIGINT * 16777216
            + string_split(remote_addr, '.')[2]::BIGINT * 65536
            + string_split(remote_addr, '.')[3]::BIGINT * 256
            + string_split(remote_addr, '.')[4]::BIGINT AS ip_int
          FROM t
        ), rng(lo, hi, ip_label) AS (VALUES {rows}),
        j AS (
          SELECT ip.k, ip.ip_int, coalesce(r.ip_label, 'unknown') AS ip_label
          FROM ip LEFT JOIN rng r ON ip.ip_int BETWEEN r.lo AND r.hi
        )
        SELECT ip_label, count(*)::BIGINT AS n_rows,
               count(DISTINCT ip_int)::BIGINT AS n_ips
        FROM j GROUP BY ip_label ORDER BY ip_label
    """
    )


def _langid_oracle() -> str:
    """Generated from textops.langid_profiles() so the profile literals can
    never drift from the Spark plan (the PII_PATTERNS precedent). All
    scores are fixed-point BIGINTs → sums are order-independent and
    engine-exact; no float pinning needed."""
    from ngxspark.textops import LANG_SEEDS, langid_profiles

    profiles, miss = langid_profiles()
    langs = sorted(profiles)
    seeds = [LANG_SEEDS[lang].replace("'", "''") for lang in langs]
    case = " ".join(f"WHEN doc_id % 6 = {i} THEN '{s}'" for i, s in enumerate(seeds))
    prof_rows = ",\n          ".join(
        f"('{lang}', '{t}', {s})" for lang in langs for t, s in profiles[lang].items()
    )
    lang_rows = ", ".join(f"('{lang}', {miss[lang]})" for lang in langs)
    return f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 5000000 AS doc_id, CASE {case} END AS text
          FROM documents WHERE doc_id < 48
        ), n AS (
          SELECT doc_id,
            ' ' || trim(regexp_replace(lower(text), '[^\\p{{L}}]+', ' ', 'g')) || ' ' AS norm
          FROM docs
        ), t AS (
          SELECT doc_id, unnest(list_transform(range(1, greatest(length(norm) - 1, 1)),
                                               i -> substr(norm, i, 3))) AS tri
          FROM n
        ), tc AS (
          SELECT doc_id, tri, count(*)::BIGINT AS c FROM t GROUP BY doc_id, tri
        ), langs(lang, miss) AS (VALUES {lang_rows}),
        prof(plang, tri, score) AS (VALUES
          {prof_rows}
        ), sc AS (
          SELECT n.doc_id, l.lang,
                 coalesce(sum(tc.c * coalesce(p.score, l.miss)), 0)::BIGINT AS score
          FROM n CROSS JOIN langs l
          LEFT JOIN tc ON tc.doc_id = n.doc_id
          LEFT JOIN prof p ON p.plang = l.lang AND p.tri = tc.tri
          GROUP BY n.doc_id, l.lang
        ), r AS (
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
          FROM sc
        )
        SELECT a.doc_id, a.lang AS pred_lang, a.score AS top_score,
               (a.score - b.score)::BIGINT AS margin,
               greatest(length(n.norm) - 2, 0)::BIGINT AS n_tris
        FROM r a JOIN r b ON a.doc_id = b.doc_id AND b.rk = 2
        JOIN n ON n.doc_id = a.doc_id
        WHERE a.rk = 1 ORDER BY a.doc_id
    """


def _corpus_profile_oracle(percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95)) -> str:
    pcts = ", ".join(str(p) for p in percentiles)
    pcols = ",\n      ".join(
        f"round(pc[{i + 1}], 4) AS p{int(p * 100)}_tokens"
        for i, p in enumerate(percentiles)
    )
    return f"""
    WITH s0 AS (
      SELECT source,
        len(string_split(text,' '))::BIGINT AS nt,
        len(list_filter(string_split(lower(text),' '), t -> list_contains({_STOP_SQL}, t)))::DOUBLE
          / greatest(len(string_split(lower(text),' ')), 1) AS stop_r,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / greatest(length(text), 1) AS alpha_r
      FROM documents
    ), s AS (
      SELECT source, nt,
        round(round(((CASE WHEN nt BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
               + alpha_r) / 3.0, 4) * 10000)::BIGINT AS q10k
      FROM s0
    ), agg AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS total_tokens,
        sum(nt*nt)::HUGEINT AS ssq, sum(q10k)::BIGINT AS sq,
        quantile_cont(nt, [{pcts}]) AS pc
      FROM s GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
      round(total_tokens::DOUBLE / n_docs::DOUBLE, 4) AS mean_tokens,
      CASE WHEN n_docs > 1 THEN
        round(sqrt((n_docs::HUGEINT * ssq - total_tokens::HUGEINT * total_tokens)::DOUBLE
                   / (n_docs::DOUBLE * (n_docs::DOUBLE - 1.0))), 4)
      END AS sd_tokens,
      {pcols},
      round(sq::DOUBLE / 10000.0 / n_docs::DOUBLE, 6) AS mean_quality
    FROM agg ORDER BY source
    """


def _gopher_oracle(
    min_words: int = 50,  # defaults mirror textops.gopher_filters exactly
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_2gram: float = 0.20,
    max_dup_3gram: float = 0.18,
) -> str:
    """GENERATED oracle for gopher_filters (stopword list interpolated from
    textops.STOPWORDS so the two engines can never drift). The keep verdict
    compares UNROUNDED ratios — each a single IEEE division of exact
    integers, identical in both engines."""
    from ngxspark.textops import STOPWORDS

    stop_lit = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
    WITH s AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id, text, toks,
        CASE WHEN len(toks) >= 2
             THEN list_transform(range(1, len(toks)), j -> toks[j] || ' ' || toks[j+1])
             ELSE []::VARCHAR[] END AS g2,
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1), j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])
             ELSE []::VARCHAR[] END AS g3
      FROM s
    ), m AS (
      SELECT doc_id,
        len(toks)::BIGINT AS n_words,
        list_sum(list_transform(toks, w -> length(w)))::DOUBLE
          / greatest(len(toks), 1)::DOUBLE AS mean_wl,
        len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
          / greatest(len(toks), 1)::DOUBLE AS alpha_r,
        len(list_intersect(list_transform(toks, w -> lower(w)), {stop_lit}))::BIGINT
          AS stop_hits,
        length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
          / greatest(len(toks), 1) AS sym,
        CASE WHEN len(g2) >= 1
             THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
             ELSE 0.0 END AS d2,
        CASE WHEN len(g3) >= 1
             THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
             ELSE 0.0 END AS d3
      FROM g
    )
    SELECT doc_id, n_words,
      round(mean_wl, 4) AS mean_word_len,
      round(alpha_r, 4) AS alpha_word_ratio,
      stop_hits,
      round(sym, 4) AS symbol_ratio,
      round(d2, 4) AS dup_2gram,
      round(d3, 4) AS dup_3gram,
      (n_words >= {min_words} AND n_words <= {max_words}
       AND mean_wl >= {min_mean_word_len} AND mean_wl <= {max_mean_word_len}
       AND sym <= {max_symbol_ratio} AND alpha_r >= {min_alpha_word_ratio}
       AND stop_hits >= {min_stopword_hits}
       AND d2 <= {max_dup_2gram} AND d3 <= {max_dup_3gram})::BIGINT AS keep
    FROM m ORDER BY doc_id
    """


def _bm25_oracle() -> str:
    """GENERATED oracle for bm25_topk (query set + fixed-point algebra
    shared with retrieval.py so the engines can never drift)."""
    from ngxspark.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(k=10)


def _lm_quality_oracle(
    top_k: int = 16, head_cutoff: float = 6.5, tail_cutoff: float = 7.5
) -> str:
    """Independent DuckDB derivation of lm_quality: recomputes the vocab
    log-probs from scratch (ln in SQL vs math.log on the driver — parity
    holds because both floor the same IEEE double; see textops.LM_SCALE)."""
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, count(*)::BIGINT AS cnt FROM tk GROUP BY token
    ), tot AS (
      SELECT sum(cnt)::BIGINT AS t FROM counts
    ), vocab AS (
      SELECT token, floor(ln(cnt / t) * 1000000000)::BIGINT AS lp
      FROM counts, tot ORDER BY cnt DESC, token ASC LIMIT {top_k}
    ), oov AS (
      SELECT floor(ln(0.5 / t) * 1000000000)::BIGINT AS lp FROM tot
    ), scored AS (
      SELECT tk.doc_id, count(*)::INT AS n_tokens,
             sum(coalesce(v.lp, (SELECT lp FROM oov)))::BIGINT AS slp
      FROM tk LEFT JOIN vocab v USING (token) GROUP BY tk.doc_id
    ), fin AS (
      SELECT doc_id, n_tokens,
        round((-slp)::DOUBLE / 1000000000.0 / n_tokens, 6) AS avg_nll
      FROM scored
    )
    SELECT doc_id, n_tokens, avg_nll,
      CASE WHEN avg_nll <= {head_cutoff} THEN 'head'
           WHEN avg_nll <= {tail_cutoff} THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM fin ORDER BY doc_id
    """


def _ccnet_buckets_oracle() -> str:
    """lm_quality's scoring CTEs + per-source quantile_cont tertiles
    (rounded to avg_nll's 6-decimal precision, like the Spark side) +
    the bucket CASE against the stratum's own cutoffs."""
    return """
    WITH tk AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, count(*)::BIGINT AS cnt FROM tk GROUP BY token
    ), tot AS (
      SELECT sum(cnt)::BIGINT AS t FROM counts
    ), vocab AS (
      SELECT token, floor(ln(cnt / t) * 1000000000)::BIGINT AS lp
      FROM counts, tot ORDER BY cnt DESC, token ASC LIMIT 16
    ), oov AS (
      SELECT floor(ln(0.5 / t) * 1000000000)::BIGINT AS lp FROM tot
    ), scored AS (
      SELECT tk.doc_id, count(*)::INT AS n_tokens,
             sum(coalesce(v.lp, (SELECT lp FROM oov)))::BIGINT AS slp
      FROM tk LEFT JOIN vocab v USING (token) GROUP BY tk.doc_id
    ), fin AS (
      SELECT s.doc_id, d.source AS stratum,
        round((-slp)::DOUBLE / 1000000000.0 / n_tokens, 6) AS avg_nll
      FROM scored s JOIN documents d USING (doc_id)
    ), cuts AS (
      SELECT stratum,
        round(quantile_cont(avg_nll, 1.0/3.0), 6) AS c1,
        round(quantile_cont(avg_nll, 2.0/3.0), 6) AS c2
      FROM fin GROUP BY stratum
    )
    SELECT f.doc_id, f.stratum, f.avg_nll,
      CASE WHEN f.avg_nll <= c.c1 THEN 'head'
           WHEN f.avg_nll <= c.c2 THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM fin f JOIN cuts c USING (stratum) ORDER BY f.doc_id
    """


def _quality_classifier_oracle() -> str:
    """Oracle GENERATED from textops.qc_weights (precedent: the redact_pii
    oracle is generated from PII_PATTERNS). The md5 derivation of the
    weights themselves is pinned independently in DuckDB by
    test_qc_weights_match_duckdb_derivation."""
    from ngxspark.textops import QC_DIM, qc_weights

    ws = ", ".join(str(w) for w in qc_weights())
    return f"""
    WITH w AS (SELECT [{ws}] AS ws),
    d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), f AS (
      SELECT doc_id, list_concat(
        toks,
        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      ) AS feats FROM d
    ), s AS (
      SELECT doc_id, len(feats)::INT AS n_feats,
        list_sum(list_transform(feats,
          x -> ws[(('0x'||substr(md5(x),1,8))::BIGINT % {QC_DIM})::INT + 1]
        ))::BIGINT AS ls
      FROM f, w
    ), fin AS (
      SELECT doc_id, n_feats,
        round(ls::DOUBLE / 1000000000.0 / n_feats, 6) AS logit
      FROM s
    )
    SELECT doc_id, n_feats, logit,
      CASE WHEN logit > 0 THEN 'keep' ELSE 'drop' END AS label
    FROM fin ORDER BY doc_id
    """


def _dsir_oracle(n_buckets: int = 256, n: int = 200) -> str:
    """Independent DuckDB derivation of dsir_sample: recomputes bucket
    counts and the two floor-scaled ln terms from scratch (ln in SQL vs
    math.log on the driver — the lm_quality parity argument; the doc fold
    itself is pure BIGINT)."""
    b_of = f"(('0x'||substr(md5(x),1,8))::BIGINT % {n_buckets})::INT"
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), f AS (
      SELECT doc_id, list_concat(
        toks,
        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      ) AS feats FROM d
    ), texp AS (
      SELECT unnest(feats) AS x FROM f WHERE doc_id % 7 = 0
    ), rexp AS (
      SELECT unnest(feats) AS x FROM f
    ), tcnt AS (
      SELECT {b_of} AS b, count(*)::BIGINT AS cnt FROM texp GROUP BY 1
    ), rcnt AS (
      SELECT {b_of} AS b, count(*)::BIGINT AS cnt FROM rexp GROUP BY 1
    ), tt AS (SELECT sum(cnt)::BIGINT AS tot FROM tcnt
    ), rt AS (SELECT sum(cnt)::BIGINT AS tot FROM rcnt
    ), lam AS (
      SELECT s.b,
        floor(ln((coalesce(t.cnt, 0) + 1) / (tt.tot + {n_buckets})) * 1000000000)::BIGINT
        - floor(ln((coalesce(r.cnt, 0) + 1) / (rt.tot + {n_buckets})) * 1000000000)::BIGINT
        AS lam
      FROM (SELECT unnest(range({n_buckets})) AS b) s
      LEFT JOIN tcnt t USING (b) LEFT JOIN rcnt r USING (b), tt, rt
    ), la AS (
      SELECT list(lam ORDER BY b) AS arr FROM lam
    ), s AS (
      SELECT doc_id, len(feats)::INT AS n_feats,
        list_sum(list_transform(feats, x -> arr[{b_of} + 1]))::BIGINT AS w
      FROM f, la
    )
    SELECT doc_id, n_feats, w AS weight,
           round(w::DOUBLE / 1000000000.0 / n_feats, 6) AS avg_logratio
    FROM s ORDER BY w DESC, doc_id LIMIT {n}
    """


def _simhash_cte(source: str) -> str:
    bit_sums = ",\n      ".join(
        f"SUM(CASE WHEN (th>>{j})&1=1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16)
    )
    combine = " + ".join(f"(CASE WHEN b{j}>0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
      FROM {source}
    ), h AS (
      SELECT doc_id, ('0x'||substr(md5(t),1,4))::BIGINT AS th FROM tok
    ), bits AS (
      SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, ({combine})::BIGINT AS simhash FROM bits
    )"""


def _simhash64_cte(source: str) -> str:
    """64-bit mirror of _simhash_cte. The token hash is the first 16 md5
    hex chars as a raw bit pattern — UBIGINT in DuckDB (BIGINT would
    overflow), signed hi<<32|lo in Spark — so per-bit votes shift the same
    pattern in both engines. The signed fingerprint reconstructs bit 63 as
    -2^63 (two's complement), matching Spark's shiftleft(1L, 63) wrap."""
    bit_sums = ",\n      ".join(
        f"SUM(CASE WHEN (th>>{j})&1=1 THEN 1 ELSE -1 END) AS b{j}" for j in range(64)
    )
    combine = (
        " + ".join(f"(CASE WHEN b{j}>0 THEN {1 << j} ELSE 0 END)" for j in range(63))
        + " + (CASE WHEN b63>0 THEN -9223372036854775808 ELSE 0 END)"
    )
    return f"""
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
      FROM {source}
    ), h AS (
      SELECT doc_id, ('0x'||substr(md5(t),1,16))::UBIGINT AS th FROM tok
    ), bits AS (
      SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, ({combine})::BIGINT AS simhash FROM bits
    )"""


def _simhash64_oracle() -> str:
    return f"""
    WITH {_simhash64_cte('documents')}
    SELECT doc_id, simhash FROM sh ORDER BY doc_id
    """


def _simhash64_pairs_oracle(max_hamming: int = 3) -> str:
    """GROUND-TRUTH all-pairs Hamming join at width=64 (same rationale as
    _simhash_pairs_oracle: the oracle must verify banding RECALL, not
    mirror the banding)."""
    return (
        DOCS_DUPS_CTE.rstrip()
        + ","
        + _simhash64_cte("docs")
        + f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY id_a, id_b
    """
    )


def _redact_pii_oracle() -> str:
    """Built from textops.PII_PATTERNS so the patterns can never drift
    from the Spark side (the SQL gets the identical regex strings;
    DuckDB standard strings pass backslashes through literally)."""
    from ngxspark.textops import PII_PATTERNS

    redacted = "text"
    for pat, tok in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{tok}', 'g')"
    counts = ",\n          ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS {name}"
        for (pat, _), name in zip(PII_PATTERNS, ("n_email", "n_ip", "n_phone"))
    )
    return f"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0 THEN text || '{_PII_PLANT}'
                      ELSE text END AS text
          FROM documents
        )
        SELECT doc_id,
          {redacted} AS redacted,
          {counts}
        FROM t ORDER BY doc_id
        """


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_cte('documents')}
    SELECT doc_id, simhash FROM sh ORDER BY doc_id
    """


def _simhash_pairs_oracle(max_hamming: int = 2) -> str:
    """GROUND-TRUTH all-pairs Hamming join (feasible at oracle scale) — it
    deliberately does NOT mirror the Spark side's pigeonhole banding, so the
    gate verifies the banding's recall claim (exact for Hamming <= k), not
    just its self-consistency. The round-2 high-byte bucket would FAIL this
    oracle (it missed pairs whose differing bits fell in bits 8-15)."""
    return (
        DOCS_DUPS_CTE.rstrip()
        + ","
        + _simhash_cte("docs")
        + f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY id_a, id_b
    """
    )


def _winnow_fps_cte(source: str, k: int = 8, w: int = 4) -> str:
    """Winnowing fingerprint CTE (per-doc EXPLODED (doc_id, fp) rows in
    `wfps`) — mirrors dedup.kgram_hashes + winnow_select exactly: char
    k-grams of the space-normalized lower text, 32-bit md5-prefix hash per
    gram, min per w-window, distinct."""
    return f"""
    wnorm AS (
      SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM {source}
    ), wkhs AS (
      SELECT doc_id,
        CASE WHEN length(t) >= {k}
             THEN list_transform(range(1, length(t) - {k} + 2),
                                 j -> ('0x' || substr(md5(substr(t, j, {k})), 1, 8))::BIGINT)
             ELSE []::BIGINT[] END AS khs
      FROM wnorm
    ), wfps AS (
      SELECT doc_id, unnest(list_sort(list_distinct(
        CASE WHEN len(khs) >= {w}
             THEN list_transform(range(1, len(khs) - {w} + 2),
                                 j -> list_min(khs[j:j + {w - 1}]))
             WHEN len(khs) >= 1 THEN [list_min(khs)]
             ELSE []::BIGINT[] END))) AS fp
      FROM wkhs
    )"""


def _winnow_fps_oracle() -> str:
    return f"""
    WITH {_winnow_fps_cte('documents')}
    SELECT doc_id, fp FROM wfps ORDER BY doc_id, fp
    """


def _winnow_pairs_oracle(min_shared: int = 2, max_bucket: int = 50) -> str:
    return (
        DOCS_DUPS_CTE.rstrip()
        + ","
        + _winnow_fps_cte("docs")
        + f"""
    , wok AS (
      SELECT wfps.doc_id, wfps.fp FROM wfps
      JOIN (SELECT fp FROM wfps GROUP BY fp HAVING count(*) <= {max_bucket}) g USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
    FROM wok a JOIN wok b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {min_shared}
    ORDER BY id_a, id_b
    """
    )


def _minhash_oracle() -> str:
    mh = ",\n      ".join(
        f"list_min(list_transform(sh, s -> substr(md5(s), {1 + 8 * i}, 8))) AS mh{i}"
        for i in range(4)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        END AS sh
      FROM d
    )
    SELECT doc_id, {mh} FROM s ORDER BY doc_id
    """


def _lsh_oracle() -> str:
    return (
        DOCS_DUPS_CTE
        + """
    , d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM docs
    ), s AS (
      SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        END AS sh
      FROM d
    ), sig AS (
      SELECT doc_id,
        list_min(list_transform(sh, s -> substr(md5(s), 1, 8))) AS mh0,
        list_min(list_transform(sh, s -> substr(md5(s), 9, 8))) AS mh1,
        list_min(list_transform(sh, s -> substr(md5(s), 17, 8))) AS mh2,
        list_min(list_transform(sh, s -> substr(md5(s), 25, 8))) AS mh3
      FROM s
    ), bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS band_key FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS band_key FROM sig
    )
    SELECT band, band_key, count(*)::BIGINT AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM bands GROUP BY band, band_key HAVING count(*) > 1
    ORDER BY band, band_key
    """
    )


def _lsh_block_sql(src: str, p: str) -> str:
    """Shingle → minhash → band CTE block for source CTE ``src``, all
    intermediate names prefixed with ``p`` — the two-table (batch vs
    corpus) analogue of _LSH_PAIRS_CTE's single-table block, same
    md5-chunk signature and band derivation."""
    return f"""
    , {p}d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM {src}
    ), {p}s AS (
      SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        END AS sh
      FROM {p}d
    ), {p}sig AS (
      SELECT doc_id,
        list_min(list_transform(sh, s -> substr(md5(s), 1, 8))) AS mh0,
        list_min(list_transform(sh, s -> substr(md5(s), 9, 8))) AS mh1,
        list_min(list_transform(sh, s -> substr(md5(s), 17, 8))) AS mh2,
        list_min(list_transform(sh, s -> substr(md5(s), 25, 8))) AS mh3
      FROM {p}s
    ), {p}bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS band_key FROM {p}sig
      UNION ALL
      SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS band_key FROM {p}sig
    ), {p}shs AS (
      SELECT doc_id, list_distinct(sh) AS sh FROM {p}s
    )"""


_LSH_PAIRS_CTE = """
    , d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM docs
    ), s AS (
      SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        END AS sh
      FROM d
    ), sig AS (
      SELECT doc_id,
        list_min(list_transform(sh, s -> substr(md5(s), 1, 8))) AS mh0,
        list_min(list_transform(sh, s -> substr(md5(s), 9, 8))) AS mh1,
        list_min(list_transform(sh, s -> substr(md5(s), 17, 8))) AS mh2,
        list_min(list_transform(sh, s -> substr(md5(s), 25, 8))) AS mh3
      FROM s
    ), bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS band_key FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS band_key FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), shs AS (
      SELECT doc_id, list_distinct(sh) AS sh FROM s
    ), verified AS (
      SELECT id_a, id_b,
             round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                   / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
      FROM cand JOIN shs a ON a.doc_id = id_a JOIN shs b ON b.doc_id = id_b
      WHERE round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                  / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) >= 0.5
    )"""


def _lsh_verified_oracle() -> str:
    return (
        DOCS_DUPS_CTE
        + _LSH_PAIRS_CTE
        + """
    SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b
    """
    )


def _incremental_lsh_oracle() -> str:
    """Two-table fuzzy ingestion gate: batch/corpus sig+band blocks via
    _lsh_block_sql, band-equality candidates, Jaccard-verified hits,
    first-in-batch digest rank, anti-filtered survivors."""
    return (
        """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 400
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' zq zq' AS text
      FROM documents WHERE doc_id < 25
      UNION ALL
      SELECT doc_id + 2500000 AS doc_id, text FROM documents
      WHERE doc_id >= 25 AND doc_id < 50
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text FROM documents
      WHERE doc_id >= 400 AND doc_id < 420
    )"""
        + _lsh_block_sql("batch", "n")
        + _lsh_block_sql("corpus", "c")
        + """
    , cand AS (
      SELECT DISTINCT nb.doc_id AS nid, cb.doc_id AS cid
      FROM nbands nb JOIN cbands cb
        ON nb.band = cb.band AND nb.band_key = cb.band_key
    ), hits AS (
      SELECT DISTINCT nid
      FROM cand JOIN nshs a ON a.doc_id = nid JOIN cshs b ON b.doc_id = cid
      WHERE round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                  / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) >= 0.5
    ), ranked AS (
      SELECT doc_id, md5(text) AS h,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      FROM batch
    )
    SELECT doc_id, h AS text_hash FROM ranked
    WHERE rk = 1 AND doc_id NOT IN (SELECT nid FROM hits)
    ORDER BY doc_id
    """
    )


def _fuzzy_decontaminate_oracle() -> str:
    """Two-table fuzzy decontamination: train/bench sig+band blocks via
    _lsh_block_sql, band-equality candidates, per-train-doc max verified
    Jaccard + distinct-benchmark hit count over the ≥ threshold pairs."""
    ids = ", ".join(str(i) for i in _BENCH_IDS)
    return (
        f"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id IN ({ids})
    ), train AS (
      SELECT doc_id, text FROM documents WHERE doc_id NOT IN ({ids})
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' zq zq' AS text
      FROM documents WHERE doc_id IN ({ids})
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text FROM documents
      WHERE doc_id IN ({ids})
    )"""
        + _lsh_block_sql("train", "t")
        + _lsh_block_sql("bench", "b")
        + """
    , cand AS (
      SELECT DISTINCT tb.doc_id AS tid, bb.doc_id AS bid
      FROM tbands tb JOIN bbands bb
        ON tb.band = bb.band AND tb.band_key = bb.band_key
    ), v AS (
      SELECT tid, bid,
             round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                   / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jac
      FROM cand JOIN tshs a ON a.doc_id = tid JOIN bshs b ON b.doc_id = bid
    )
    SELECT tid AS doc_id, max(jac) AS max_jaccard,
           count(DISTINCT bid)::BIGINT AS n_bench_hits
    FROM v WHERE jac >= 0.5 GROUP BY tid ORDER BY doc_id
    """
    )


def _dedup_clusters_oracle() -> str:
    """Unique min-label fixpoint via recursive reachability: cluster_id(v)
    = min(u : u reaches v through the symmetrized verified-pair edges)."""
    return (
        DOCS_DUPS_CTE.replace("WITH docs", "WITH RECURSIVE docs", 1)
        + _LSH_PAIRS_CTE
        + """
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION
      SELECT id_b AS a, id_a AS b FROM verified
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM docs
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT dst AS doc_id, min(src) AS cluster_id
    FROM reach GROUP BY dst ORDER BY doc_id
    """
    )


def _dedup_keep_best_oracle() -> str:
    """Reachability clusters over verified pairs of the TAIL-mutated dup
    corpus + the corpus_curation quality formula + argmax(score, tie
    min id) per cluster via row_number."""
    return (
        f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || '{_KEEP_BEST_TAIL}' AS text
  FROM documents WHERE doc_id < 25
)
"""
        + _LSH_PAIRS_CTE
        + f"""
    , edges AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION
      SELECT id_b AS a, id_a AS b FROM verified
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM docs
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    ), cl AS (
      SELECT dst AS doc_id, min(src) AS cluster_id FROM reach GROUP BY dst
    ), st AS (
      SELECT doc_id,
        len(string_split(text,' '))::INT AS n_tokens,
        len(list_filter(string_split(lower(text),' '), t -> list_contains({_STOP_SQL}, t)))::DOUBLE
          / greatest(len(string_split(lower(text),' ')), 1) AS stop_r,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / greatest(length(text), 1) AS alpha_r
      FROM docs
    ), q AS (
      SELECT doc_id,
        round(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END) + alpha_r) / 3.0, 4) AS score
      FROM st
    ), r AS (
      SELECT cl.doc_id, cl.cluster_id, q.score,
             row_number() OVER (
               PARTITION BY cl.cluster_id ORDER BY q.score DESC, cl.doc_id
             ) AS rk
      FROM cl JOIN q ON q.doc_id = cl.doc_id
    )
    SELECT doc_id, cluster_id, score, rk = 1 AS keep FROM r ORDER BY doc_id
    """
    )


def _corpus_curation_oracle() -> str:
    return (
        DOCS_DUPS_CTE
        + f"""
    , st AS (
      SELECT doc_id, text,
        len(string_split(text,' '))::INT AS n_tokens,
        len(list_filter(string_split(lower(text),' '), t -> list_contains({_STOP_SQL}, t)))::DOUBLE
          / greatest(len(string_split(lower(text),' ')), 1) AS stop_r,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / greatest(length(text), 1) AS alpha_r
      FROM docs
    ), q AS (
      SELECT doc_id, text, n_tokens,
        round(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END) + alpha_r) / 3.0, 4) AS quality
      FROM st
    ), good AS (
      SELECT * FROM q WHERE quality >= 0.9
    ), kept AS (
      SELECT doc_id, text, n_tokens, quality FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM good
      ) WHERE rk = 1
    ), d2 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM kept
    ), s2 AS (
      SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        END AS sh
      FROM d2
    ), sig AS (
      SELECT doc_id,
        list_min(list_transform(sh, s -> substr(md5(s), 1, 8))) AS mh0,
        list_min(list_transform(sh, s -> substr(md5(s), 9, 8))) AS mh1,
        list_min(list_transform(sh, s -> substr(md5(s), 17, 8))) AS mh2,
        list_min(list_transform(sh, s -> substr(md5(s), 25, 8))) AS mh3
      FROM s2
    ), bands AS (
      SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS band_key FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS band_key FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), shs AS (
      SELECT doc_id, list_distinct(sh) AS sh FROM s2
    ), pairs AS (
      SELECT id_b FROM cand JOIN shs a ON a.doc_id = id_a JOIN shs b ON b.doc_id = id_b
      WHERE round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                  / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) >= 0.5
    )
    SELECT count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           round(sum(quality::DECIMAL(18,4))::DOUBLE / count(*), 4) AS avg_quality
    FROM kept WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """
    )


def _planes_cte(n_planes: int, dim: int) -> str:
    """Deterministic md5 hyperplanes — the exact SQL mirror of
    simsearch._plane_signs' driver-side per-dimension ±1 derivation
    (cross-checked by test_plane_signs_match_duckdb_cte)."""
    return f"""
    planes AS (
      SELECT p, list_transform(range(0, {dim}),
        x -> CASE WHEN ('0x' || substr(md5(p || ':' || x), 1, 2))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END) AS pv
      FROM range(0, {n_planes}) t(p)
    )"""


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a},{b}) / "
        f"(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})))"
    )


def _ivf_oracle(
    n_iter: int,
    n_centroids: int = 16,
    n_probe: int = 3,
    k: int = 5,
    dim: int = 64,
    leaf: int = 4096,
) -> str:
    """IVF ANN oracle, generic in the number of Lloyd iterations. The
    re-centering replays simsearch._det_cell_means' deterministic two-level
    summation tree bit-for-bit: list_reduce over list(v ORDER BY vec_id)
    folds left-to-right in double precision, exactly like Spark's
    zero-seeded F.aggregate (0.0+x == x in IEEE)."""

    def asg_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT d.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY {_cosine_sql('d.v', 'c.cv')} DESC, c.cent_id) AS rk
            FROM d, {cents} c
          ) WHERE rk = 1
        )"""

    elemadd = f"(a, b) -> list_transform(range(1, {dim + 1}), i -> a[i] + b[i])"
    lloyd, cents_final = "", "cents0"
    for it in range(n_iter):
        lloyd += f""",
        {asg_cte(f'asg{it}', cents_final)},
        lvl1_{it} AS (
          SELECT cell, vec_id // {leaf} AS leaf,
                 list_reduce(list(v ORDER BY vec_id), {elemadd}) AS sums,
                 count(*) AS n
          FROM asg{it} JOIN d USING (vec_id) GROUP BY cell, leaf
        ),
        cents{it + 1} AS (
          SELECT cent_id, list_transform(sums, x -> x / n) AS cv FROM (
            SELECT cell AS cent_id,
                   list_reduce(list(sums ORDER BY leaf), {elemadd}) AS sums,
                   sum(n) AS n
            FROM lvl1_{it} GROUP BY cell
          )
        )"""
        cents_final = f"cents{it + 1}"
    return f"""
        WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM d ORDER BY vec_id LIMIT {n_centroids})
        {lloyd},
        {asg_cte('asg', cents_final)},
        q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 5),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q.query_id, c.cent_id AS cell,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_cosine_sql('q.qv', 'c.cv')} DESC, c.cent_id) AS rk
            FROM q, {cents_final} c
          ) WHERE rk <= {n_probe}
        ), cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, q2.qv, d.v
          FROM probes p
          JOIN asg a ON a.cell = p.cell
          JOIN q q2 ON q2.query_id = p.query_id
          JOIN d ON d.vec_id = a.vec_id
          WHERE a.vec_id != p.query_id
        ), scored AS (
          SELECT query_id, neighbor_id,
                 round({_cosine_sql('cand.qv', 'cand.v')}, 6) AS score FROM cand
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= {k} ORDER BY query_id, rank
    """


def oracle_sql() -> dict[str, str]:
    cos = _cosine_sql("qv", "ev")
    cos_ab = _cosine_sql("va", "vb")
    return {
        "parse_combined": ORDERS_FIELDS_CTE
        + """
        SELECT k, remote_addr, remote_user, time_local, request, status,
               body_bytes_sent, http_referer, http_user_agent
        FROM t ORDER BY k
        """,
        "parse_escaped": ORDERS_FIELDS_CTE
        + """
        SELECT k, printf('agent "v%d" \\x', k%9) AS http_user_agent, status
        FROM t ORDER BY k
        """,
        "parse_escaped_hex": ORDERS_FIELDS_CTE
        + """
        SELECT k, 'hex ' || chr((64 + k%10)::INT) || ' end' AS http_user_agent, status
        FROM t ORDER BY k
        """,
        "parse_json_escaped": ORDERS_FIELDS_CTE
        + """
        SELECT k, printf('agent "v%d"', k%9) AS u, status AS s
        FROM t ORDER BY k
        """,
        "route_sinks": ORDERS_FIELDS_CTE
        + """
        SELECT CASE
            WHEN k%23=0 THEN 'reject'
            WHEN k%19=0 THEN 'reject'
            WHEN status >= 500 THEN 'server_error'
            WHEN status >= 400 THEN 'client_error'
            WHEN status >= 300 THEN 'redirect'
            ELSE 'ok' END AS sink,
          count(*)::BIGINT AS cnt
        FROM t GROUP BY 1 ORDER BY 1
        """,
        "status_class_counts": ORDERS_FIELDS_CTE
        + """
        SELECT printf('%dxx', (status/100)::INT) AS status_class, count(*)::BIGINT AS cnt
        FROM t GROUP BY 1 ORDER BY 1
        """,
        "render_marshal": ORDERS_FIELDS_CTE
        + """
        SELECT k,
          printf('%s - %s [%s] "%s" %d %d "%s" "agent \\"v%d\\""',
                 remote_addr, remote_user, time_local, request, status,
                 body_bytes_sent, http_referer, k%9) AS line
        FROM t ORDER BY k
        """,
        "render_map": ORDERS_FIELDS_CTE
        + """
        SELECT k,
          printf('%s  [%s] "agent \\"v%d\\""', remote_addr, time_local, k%9) AS line
        FROM t ORDER BY k
        """,
        "conv_turns": """
        SELECT ('0x'||substr(md5(printf('conv-%06d', o_custkey)),1,8))::BIGINT % 64 AS conv_bucket,
               count(*)::BIGINT AS cnt
        FROM orders GROUP BY 1 ORDER BY 1
        """,
        "turn_ordering": """
        SELECT user_id, rn, event_id, event_type FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ) WHERE rn <= 3 ORDER BY user_id, rn
        """,
        "events_hourly": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type, count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_enriched": """
        WITH lk(etype, family) AS (VALUES
          ('error','alert'), ('click','engagement'), ('view','engagement'),
          ('purchase','revenue'), ('signup','growth'))
        SELECT family, count(*)::BIGINT AS cnt, round(sum(value), 2) AS total_value
        FROM events LEFT JOIN lk ON event_type = etype
        GROUP BY family ORDER BY family
        """,
        "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity), 2) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_base_price,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
        SELECT c_custkey, c_name, revenue, rank FROM (
          SELECT c_custkey, c_name, revenue,
                 row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
          FROM (
            SELECT c_custkey, c_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
          )
        ) WHERE rank <= 10 ORDER BY rank
        """,
        "parse_errorlog": """
        SELECT event_id,
          strftime(ts, '%Y/%m/%d %H:%M:%S') AS time_str,
          event_type AS level,
          event_id % 32768 AS pid,
          user_id AS tid,
          event_id AS cid,
          'handling ' || event_type AS message,
          printf('10.0.0.%d', user_id % 200) AS client
        FROM events ORDER BY event_id
        """,
        "parse_json_props": """
        SELECT event_id,
               CAST(regexp_extract(props, '\\{"k": (\\d+)\\}', 1) AS BIGINT) AS k
        FROM events ORDER BY event_id
        """,
        "typed_fields": """
        SELECT event_id,
               (event_type = 'click') AS ok,
               (event_id % 10000)::SMALLINT AS n,
               user_id AS u,
               event_type AS tag
        FROM events ORDER BY event_id
        """,
        "parse_none_dialect": """
        SELECT p_partkey, p_brand AS brand, p_partkey AS key,
               p_size AS size, p_type AS type
        FROM part ORDER BY p_partkey
        """,
        "parse_map_mode": ORDERS_FIELDS_CTE
        + """
        SELECT k, remote_addr, remote_user, time_local, request,
               status::VARCHAR AS status,
               body_bytes_sent::VARCHAR AS body_bytes_sent,
               http_referer, http_user_agent
        FROM t ORDER BY k
        """,
        "multi_format_route": """
        SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'applog' ELSE 'combined' END AS fmt,
               count(*)::BIGINT AS cnt
        FROM orders GROUP BY 1 ORDER BY 1
        """,
        "dedup_exact": DOCS_DUPS_CTE
        + """
        SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_id
        FROM docs GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
        """,
        "dedup_soft": DOCS_DUPS_CTE
        + """
        SELECT doc_id, md5(text) AS text_hash,
               count(*) OVER (PARTITION BY md5(text))::BIGINT AS n_copies,
               1000000000 // count(*) OVER (PARTITION BY md5(text)) AS weight
        FROM docs ORDER BY doc_id
        """,
        "ngram_jaccard": """
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 150
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
        ), d AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM docs
        ), s AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                 ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
            END) AS sh
          FROM d
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                     / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
        FROM s a, s b
        WHERE a.doc_id < b.doc_id
          AND round(len(list_distinct(list_intersect(a.sh, b.sh)))::DOUBLE
                    / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) >= 0.5
        ORDER BY id_a, id_b
        """,
        "minhash_signatures": _minhash_oracle(),
        "lsh_candidates": _lsh_oracle(),
        "simhash": _simhash_oracle(),
        "decontaminate": f"""
        WITH bench AS (
          SELECT doc_id, text FROM documents WHERE doc_id IN {_BENCH_IDS}
        ), train AS (
          SELECT doc_id, text FROM documents WHERE doc_id NOT IN {_BENCH_IDS}
          UNION ALL
          SELECT doc_id + 2000000 AS doc_id, 'alpha beta ' || text || ' gamma' AS text
          FROM bench
        ), bg AS (
          SELECT DISTINCT substr(md5(g), 1, 16) AS gk FROM (
            SELECT unnest(CASE WHEN len(toks) >= 13
              THEN list_transform(range(1, len(toks) - 11),
                                  j -> array_to_string(toks[j:j+12], ' '))
              ELSE []::VARCHAR[] END) AS g
            FROM (SELECT string_split(text, ' ') AS toks FROM bench)
          )
        ), tg AS (
          SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 13
              THEN list_transform(range(1, len(toks) - 11),
                                  j -> array_to_string(toks[j:j+12], ' '))
              ELSE []::VARCHAR[] END)) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM train)
        ), hits AS (
          SELECT doc_id, count(*) AS n_hit_grams
          FROM tg JOIN bg ON substr(md5(tg.g), 1, 16) = bg.gk
          GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(h.n_hit_grams, 0)::BIGINT AS n_hit_grams,
               (coalesce(h.n_hit_grams, 0) > 0)::INT AS contaminated
        FROM train t LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id
        """,
        "incremental_lsh_dedup": _incremental_lsh_oracle(),
        "dedup_incremental": """
        WITH corpus AS (
          SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
        ), batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 400
          UNION ALL
          SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 25
          UNION ALL
          SELECT doc_id + 3000000 AS doc_id, text FROM documents
          WHERE doc_id >= 400 AND doc_id < 420
        ), ranked AS (
          SELECT doc_id, md5(text) AS h,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
          FROM batch
        )
        SELECT doc_id, h AS text_hash FROM ranked
        WHERE rk = 1 AND h NOT IN (SELECT h FROM corpus)
        ORDER BY doc_id
        """,
        "bloom_dedup": """
        WITH corpus AS (
          SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id < 400
        ), ks AS (
          SELECT unnest(range(3)) AS i
        ), cpos AS (
          SELECT (('0x'||substr(md5(d || ':' || i),1,8))::BIGINT % 4096) AS p
          FROM corpus, ks
        ), bitmap AS (
          SELECT p // 32 AS w_idx,
                 bit_or(1::BIGINT << (p % 32)::INT) AS word
          FROM cpos GROUP BY 1
        ), batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 400
          UNION ALL
          SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 25
          UNION ALL
          SELECT doc_id + 3000000 AS doc_id, text FROM documents
          WHERE doc_id >= 400 AND doc_id < 420
        ), ranked AS (
          SELECT doc_id, md5(text) AS h,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
          FROM batch
        ), probe AS (
          SELECT doc_id, h,
                 (('0x'||substr(md5(h || ':' || i),1,8))::BIGINT % 4096) AS p
          FROM ranked, ks WHERE rk = 1
        ), hits AS (
          SELECT doc_id, h,
            sum(CASE WHEN b.word IS NOT NULL
                      AND (b.word & (1::BIGINT << (p % 32)::INT)) <> 0
                THEN 1 ELSE 0 END) AS nh
          FROM probe LEFT JOIN bitmap b ON probe.p // 32 = b.w_idx
          GROUP BY doc_id, h
        )
        SELECT doc_id, h AS text_hash FROM hits WHERE nh < 3 ORDER BY doc_id
        """,
        "simhash64": _simhash64_oracle(),
        "simhash64_pairs": _simhash64_pairs_oracle(),
        "redact_pii": _redact_pii_oracle(),
        "pack_chunks": """
        WITH s AS (
          SELECT doc_id,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 8 AS shard,
                 len(string_split(text,' '))::BIGINT AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, shard, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS e
          FROM s
        ), x AS (
          SELECT shard, doc_id, e, e - n_tokens AS o,
                 unnest(range((e - n_tokens) // 512, (e - 1) // 512 + 1)) AS bin_id
          FROM c
        )
        SELECT shard, bin_id::BIGINT AS bin_id, doc_id,
               (least(e, (bin_id + 1) * 512) - greatest(o, bin_id * 512))::BIGINT
                 AS tokens_in_bin
        FROM x ORDER BY shard, bin_id, doc_id
        """,
        "repetition_stats": """
        WITH s AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        ), g AS (
          SELECT doc_id, text, toks,
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)), j -> toks[j] || ' ' || toks[j+1])
                 ELSE []::VARCHAR[] END AS g2,
            CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1), j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])
                 ELSE []::VARCHAR[] END AS g3
          FROM s
        )
        SELECT doc_id,
          round(CASE WHEN len(g2) >= 1 THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) ELSE 0.0 END, 4) AS dup_2gram,
          round(CASE WHEN len(g3) >= 1 THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) ELSE 0.0 END, 4) AS dup_3gram,
          round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(len(toks), 1), 4) AS symbol_ratio,
          round(length(text)::DOUBLE / greatest(len(list_distinct(toks)), 1), 4) AS chars_per_distinct_token
        FROM g ORDER BY doc_id
        """,
        "gopher_filters": _gopher_oracle(min_words=20),  # q_gopher_filters passes 20
        "bm25_topk": _bm25_oracle(),
        "ngram_topk": """
        WITH s AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g AS (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1), j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])
                 ELSE []::VARCHAR[] END) AS gram
          FROM s
        )
        SELECT gram, count(*)::BIGINT AS occurrences,
               count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM g GROUP BY gram
        ORDER BY occurrences DESC, gram LIMIT 20
        """,
        "winnow_fingerprints": _winnow_fps_oracle(),
        "winnow_pairs": _winnow_pairs_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "lm_quality": _lm_quality_oracle(),
        "ccnet_buckets": _ccnet_buckets_oracle(),
        "quality_classifier": _quality_classifier_oracle(),
        "dsir_sample": _dsir_oracle(),
        "corpus_profile": _corpus_profile_oracle(),
        "langid_trigram": _langid_oracle(),
        "enrich_ip_ranges": _ip_ranges_oracle(),
        "error_spikes": """
        WITH h AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                 count(*)::BIGINT AS n,
                 sum((event_type = 'error')::BIGINT)::BIGINT AS n_err
          FROM events GROUP BY 1
        ), r AS (
          SELECT *, (n_err * 1000000) // n AS rate_fp FROM h
        ), s AS (
          SELECT (sum(rate_fp) // count(*))::BIGINT AS mean_fp,
                 count(*)::BIGINT AS nh
          FROM r
        ), d AS (
          SELECT r.*, s.mean_fp, s.nh, (r.rate_fp - s.mean_fp) AS dev FROM r, s
        ), v AS (
          SELECT sum(dev * dev)::BIGINT AS ssd FROM d
        )
        SELECT d.hour_start, d.n, d.n_err, d.rate_fp::BIGINT AS rate_fp, d.mean_fp,
               (d.dev > 0 AND d.dev * d.dev * d.nh > 4 * v.ssd) AS spike
        FROM d, v ORDER BY hour_start
        """,
        "tfidf_terms": _tfidf_oracle(),
        "semantic_decontaminate": """
        WITH ev AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id % 50 = 0
        ), tr AS (
          SELECT vec_id, embedding::DOUBLE[] AS tv FROM embeddings WHERE vec_id % 50 <> 0
          UNION ALL
          SELECT vec_id + 2000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 50 = 0
        ), s AS (
          SELECT tr.vec_id,
                 max(list_dot_product(tr.tv, ev.ev)
                     / (sqrt(list_dot_product(tr.tv, tr.tv))
                        * sqrt(list_dot_product(ev.ev, ev.ev)))) AS m
          FROM tr, ev GROUP BY tr.vec_id
        )
        SELECT vec_id, round(m, 6) AS max_sim,
               (round(m, 6) >= 0.95)::INT AS contaminated
        FROM s ORDER BY vec_id
        """,
        "ngram_diversity": """
        WITH docs AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 8000000, 'the same template line repeats here', 'templated'
          FROM documents WHERE doc_id % 11 = 0
        ), s AS (
          SELECT source, string_split(text, ' ') AS toks FROM docs
        ), g AS (
          SELECT source, unnest(
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)), j -> toks[j] || ' ' || toks[j+1])
                 ELSE []::VARCHAR[] END) AS gram
          FROM s
        ), a AS (
          SELECT source, gram, count(*)::BIGINT AS c FROM g GROUP BY source, gram
        )
        SELECT source, distinct_grams, total_grams,
               (distinct_grams * 1000000) // total_grams AS diversity_fp
        FROM (
          SELECT source, count(*)::BIGINT AS distinct_grams,
                 sum(c)::BIGINT AS total_grams
          FROM a GROUP BY source
        ) ORDER BY source
        """,
        "source_overlap": """
        WITH docs AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 6000000, text, 'mirror_a' FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 7000000, text, 'mirror_b' FROM documents WHERE doc_id % 13 = 0
        ), d AS (
          SELECT DISTINCT source, md5(text) AS digest FROM docs
        )
        SELECT a.source AS src_a, b.source AS src_b,
               count(*)::BIGINT AS n_shared_digests
        FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
        GROUP BY src_a, src_b ORDER BY src_a, src_b
        """,
        "dedup_priority": """
        WITH docs AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, 'curated' AS source, text
          FROM documents WHERE doc_id < 25
        ), pr AS (
          SELECT doc_id, source, md5(text) AS th,
            CASE WHEN source = 'curated' THEN 0 ELSE 2 END AS priority
          FROM docs
        ), r AS (
          SELECT doc_id, source, th,
            row_number() OVER (PARTITION BY th ORDER BY priority, doc_id) AS rk
          FROM pr
        )
        SELECT doc_id, source, th AS text_hash FROM r WHERE rk = 1 ORDER BY doc_id
        """,
        "dedup_normalized": """
        WITH all_d AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 3000000 AS doc_id, upper(text) AS text
          FROM documents WHERE doc_id < 10
        ), n AS (
          SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(regexp_replace(
              lower(text), '[0-9]', '0', 'g'), '[^a-z0-9 ]', '', 'g'),
              ' +', ' ', 'g'))) AS norm_digest
          FROM all_d
        ), c AS (
          SELECT doc_id, norm_digest,
                 min(doc_id) OVER (PARTITION BY norm_digest) AS cluster_id
          FROM n
        )
        SELECT doc_id, norm_digest, cluster_id::BIGINT AS cluster_id,
               (doc_id = cluster_id) AS keep
        FROM c ORDER BY doc_id
        """,
        "quality_signals": f"""
        WITH s AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks,
                 list_transform(string_split(text, ' '), w -> lower(w)) AS lt
          FROM documents
        ), g AS (
          SELECT doc_id, text, toks, lt,
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)), j -> toks[j] || ' ' || toks[j+1])
                 ELSE []::VARCHAR[] END AS g2,
            CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1), j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])
                 ELSE []::VARCHAR[] END AS g3
          FROM s
        ), m AS (
          SELECT doc_id, text, toks, lt, g2, g3,
            len(toks)::BIGINT AS n_tokens,
            greatest(len(toks), 1) AS n_safe,
            len(list_filter(lt, w -> list_contains({_STOP_SQL}, w)))::DOUBLE
              / greatest(len(toks), 1) AS stop_r,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
              / greatest(length(text), 1) AS alpha_r
          FROM g
        )
        SELECT doc_id, n_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_word_tokens,
          length(text)::INT AS n_chars_measured,
          round(list_sum(list_transform(toks, w -> length(w)))::DOUBLE / n_safe::DOUBLE, 4) AS mean_word_len,
          round(stop_r, 4) AS stopword_ratio,
          len(list_intersect(lt, {_STOP_SQL}))::BIGINT AS stop_hits,
          round(alpha_r, 4) AS alpha_ratio,
          round(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / n_safe::DOUBLE, 4) AS alpha_word_ratio,
          round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / n_safe, 4) AS symbol_ratio,
          round(CASE WHEN len(g2) >= 1 THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) ELSE 0.0 END, 4) AS dup_2gram,
          round(CASE WHEN len(g3) >= 1 THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) ELSE 0.0 END, 4) AS dup_3gram,
          round(length(text)::DOUBLE / greatest(len(list_distinct(toks)), 1), 4) AS chars_per_distinct_token,
          round(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
                 + alpha_r) / 3.0, 4) AS quality,
          CASE WHEN stop_r > 0.01 THEN 'en' ELSE 'unknown' END AS lang_pred,
          md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
        FROM m ORDER BY doc_id
        """,
        "doc_stats": f"""
        WITH s AS (
          SELECT doc_id, text,
            len(string_split(text,' '))::INT AS n_tokens,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_word_tokens,
            length(text)::INT AS n_chars_measured,
            len(list_filter(string_split(lower(text),' '), t -> list_contains({_STOP_SQL}, t)))::DOUBLE
              / greatest(len(string_split(lower(text),' ')), 1) AS stop_r,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
              / greatest(length(text), 1) AS alpha_r
          FROM documents
        )
        SELECT doc_id, n_tokens, n_word_tokens, n_chars_measured,
          round(stop_r, 4) AS stopword_ratio,
          round(alpha_r, 4) AS alpha_ratio,
          round(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
                 + alpha_r) / 3.0, 4) AS quality,
          CASE WHEN stop_r > 0.01 THEN 'en' ELSE 'unknown' END AS lang_pred,
          md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
        FROM s ORDER BY doc_id
        """,
        "ann_topk": f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5
        ), p AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 round({cos}, 6) AS score
          FROM q, (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) e
          WHERE e.vec_id != query_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM p
        ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "near_dup_cosine": f"""
        WITH all_e AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10
        ), d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e),
        {_planes_cte(6, 64)},
        bkt AS (
          SELECT d.vec_id,
                 sum(CASE WHEN list_dot_product(d.v, planes.pv) >= 0
                          THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          FROM d, planes GROUP BY d.vec_id
        ), e AS (
          SELECT d.vec_id, d.v, sqrt(list_dot_product(d.v, d.v)) AS nrm, bkt.bucket
          FROM d JOIN bkt USING (vec_id)
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.99
        ORDER BY id_a, id_b
        """,
        "near_dup_cosine_multi": """
        WITH all_e AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10
        ), d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e),
        planes AS (
          SELECT p, list_transform(range(0, 64),
            x -> CASE WHEN ('0x' || substr(md5(p || ':' || x), 1, 2))::BIGINT % 2 = 0
                      THEN 1.0 ELSE -1.0 END) AS pv
          FROM range(0, 24) t(p)
        ), bkt AS (
          SELECT d.vec_id, (p // 6)::INT AS tbl,
                 sum(CASE WHEN list_dot_product(d.v, planes.pv) >= 0
                          THEN (1::BIGINT << (p % 6)::INT) ELSE 0 END)::BIGINT AS bucket
          FROM d, planes GROUP BY d.vec_id, (p // 6)
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
                                AND a.vec_id < b.vec_id
        ), n AS (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d
        )
        SELECT id_a, id_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
        FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.99
        ORDER BY id_a, id_b
        """,
        "lsh_verified_pairs": _lsh_verified_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "dedup_keep_best": _dedup_keep_best_oracle(),
        "dedup_clusters_star": _dedup_clusters_oracle(),
        "corpus_curation_staged": _corpus_curation_oracle(),
        "dedup_segments": DOCS_DUPS_CTE
        + """
    , toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM docs
    ), segs AS (
      SELECT doc_id, u.i - 1 AS seg_idx,
             array_to_string(t[((u.i-1)*10+1):((u.i-1)*10+10)], ' ') AS seg
      FROM toks, UNNEST(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
    ), ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rk,
             count(*) OVER (PARTITION BY doc_id) AS n_segs
      FROM segs
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_idx), '')
             AS clean_text,
           count(CASE WHEN rk = 1 THEN 1 END)::BIGINT AS n_kept,
           (any_value(n_segs) - count(CASE WHEN rk = 1 THEN 1 END))::BIGINT AS n_dropped
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
        "temperature_mix": """
        WITH s AS (
          SELECT doc_id,
                 (len(string_split(text, ' ')) // 20)::BIGINT AS stratum
          FROM documents
        ), c AS (
          SELECT stratum, count(*)::BIGINT AS c FROM s GROUP BY stratum
        ), w AS (
          SELECT stratum, CAST(floor(sqrt(c) * 1000000000) AS HUGEINT) AS w
          FROM c
        ), q AS (
          SELECT stratum,
                 CAST((CAST(150 AS HUGEINT) * w)
                      // (SELECT sum(w) FROM w) AS BIGINT) AS quota
          FROM w
        ), r AS (
          SELECT doc_id, stratum,
                 row_number() OVER (
                   PARTITION BY stratum
                   ORDER BY md5(doc_id::VARCHAR), doc_id
                 )::BIGINT AS rank
          FROM s
        )
        SELECT r.doc_id, r.stratum, q.quota, r.rank
        FROM r JOIN q USING (stratum)
        WHERE rank <= quota ORDER BY stratum, rank
        """,
        "repeat_factor_mix": """
        WITH s AS (
          SELECT doc_id,
                 (len(string_split(text, ' ')) // 20)::BIGINT AS stratum
          FROM documents
        ), c AS (
          SELECT stratum, count(*)::BIGINT AS c FROM s GROUP BY stratum
        ), w AS (
          SELECT stratum, c, CAST(floor(sqrt(c) * 1000000000) AS HUGEINT) AS w
          FROM c
        ), q AS (
          SELECT stratum, c,
                 CAST((CAST((SELECT 3 * count(*) FROM s) AS HUGEINT) * w)
                      // (SELECT sum(w) FROM w) AS BIGINT) AS q
          FROM w
        ), p AS (
          SELECT stratum, q // c AS base,
                 lpad(lower(to_hex(CAST((CAST(q % c AS HUGEINT)
                        * 1152921504606846976) // c AS BIGINT))),
                      15, '0') AS thex
          FROM q
        ), e AS (
          SELECT s.doc_id, s.stratum,
                 least(p.base + CASE
                   WHEN substr(md5(s.doc_id::VARCHAR), 1, 15) < p.thex
                   THEN 1 ELSE 0 END, 4) AS n
          FROM s JOIN p USING (stratum)
        )
        SELECT doc_id, stratum,
               unnest(generate_series(1, n))::BIGINT AS epoch
        FROM e WHERE n > 0 ORDER BY doc_id, epoch
        """,
        "unimax_mix": """
        WITH RECURSIVE s AS (
          SELECT doc_id,
                 (len(string_split(text, ' ')) // 20)::BIGINT AS stratum
          FROM documents
        ), c AS (
          SELECT stratum, count(*)::BIGINT AS c FROM s GROUP BY stratum
        ), o AS (
          SELECT stratum, c, row_number() OVER (ORDER BY c, stratum)::BIGINT AS rn
          FROM c
        ), ns AS (SELECT count(*)::BIGINT AS n FROM o
        ), tot AS (SELECT (2 * count(*))::BIGINT AS b FROM s
        ), alloc AS (
          SELECT CAST(0 AS BIGINT) AS rn, (SELECT b FROM tot) AS rem,
                 CAST(NULL AS BIGINT) AS stratum, CAST(NULL AS BIGINT) AS c,
                 CAST(NULL AS BIGINT) AS q
          UNION ALL
          SELECT o.rn,
                 a.rem - least(o.c * 4, a.rem // ((SELECT n FROM ns) - a.rn)),
                 o.stratum, o.c,
                 least(o.c * 4, a.rem // ((SELECT n FROM ns) - a.rn))
          FROM alloc a JOIN o ON o.rn = a.rn + 1
        ), q AS (
          SELECT stratum, c, q FROM alloc WHERE rn > 0
        ), p AS (
          SELECT stratum, q // c AS base,
                 lpad(lower(to_hex(CAST((CAST(q % c AS HUGEINT)
                        * 1152921504606846976) // c AS BIGINT))),
                      15, '0') AS thex
          FROM q
        ), e AS (
          SELECT s.doc_id, s.stratum,
                 least(p.base + CASE
                   WHEN substr(md5(s.doc_id::VARCHAR), 1, 15) < p.thex
                   THEN 1 ELSE 0 END, 4) AS n
          FROM s JOIN p USING (stratum)
        )
        SELECT doc_id, stratum,
               unnest(generate_series(1, n))::BIGINT AS epoch
        FROM e WHERE n > 0 ORDER BY doc_id, epoch
        """,
        "shuffle_shards": """
        WITH s AS (
          SELECT doc_id, md5(doc_id::VARCHAR) AS u,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 16 AS shard_id
          FROM documents
        )
        SELECT doc_id, shard_id,
               (row_number() OVER (
                 PARTITION BY shard_id ORDER BY u, doc_id))::BIGINT AS pos
        FROM s ORDER BY shard_id, pos
        """,
        "fuzzy_decontaminate": _fuzzy_decontaminate_oracle(),
        "stratified_sample": """
        WITH s AS (
          SELECT doc_id,
                 (len(string_split(text, ' ')) // 20)::BIGINT AS stratum
          FROM documents
        ), r AS (
          SELECT doc_id, stratum,
                 row_number() OVER (
                   PARTITION BY stratum
                   ORDER BY md5(doc_id::VARCHAR), doc_id
                 )::BIGINT AS rank
          FROM s
        )
        SELECT doc_id, stratum, rank FROM r
        WHERE rank <= 30 ORDER BY stratum, rank
        """,
        "exact_substring_dedup": DOCS_DUPS_CTE
        + """
    , toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM docs
    ), occ AS (
      SELECT doc_id, u.p,
             md5(array_to_string(t[u.p:(u.p + 19)], ' ')) AS k
      FROM toks, UNNEST(generate_series(1, len(t) - 19)) AS u(p)
      WHERE len(t) >= 20
    ), ranked AS (
      SELECT doc_id, p, k,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, p) AS rk
      FROM occ
    ), covered AS (
      SELECT DISTINCT doc_id, u.tp
      FROM ranked, UNNEST(generate_series(p, p + 19)) AS u(tp)
      WHERE rk > 1
    ), tok_pos AS (
      SELECT doc_id, u.tp, t[u.tp] AS tok
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(tp)
    ), kept AS (
      SELECT tok_pos.doc_id, tok_pos.tp, tok_pos.tok
      FROM tok_pos
      LEFT JOIN covered ON covered.doc_id = tok_pos.doc_id AND covered.tp = tok_pos.tp
      WHERE covered.doc_id IS NULL
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY tp) AS clean_text,
             count(*)::BIGINT AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0)::BIGINT AS n_kept,
           (len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
    FROM docs d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
        "url_stats": """
        WITH planted AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' see https://ads.example.com/t' || doc_id || ' now'
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' ref https://ok.example.org/p' || doc_id || ' end'
                         ELSE '' END AS text
          FROM documents
        ), d AS (
          SELECT doc_id,
                 regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1) AS doms
          FROM planted
        )
        SELECT doc_id,
               len(doms)::BIGINT AS n_urls,
               coalesce(array_to_string(doms, ','), '') AS domains,
               coalesce(list_has_any(doms, ['ads.example.com', 'spam.example.net']), FALSE)
                 AS blocked
        FROM d ORDER BY doc_id
        """,
        "token_budget_sample": """
        WITH s AS (
          SELECT doc_id,
                 (len(string_split(text, ' ')) // 20)::BIGINT AS stratum,
                 len(string_split(text, ' '))::BIGINT AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, stratum, n_tokens,
                 sum(n_tokens) OVER (
                   PARTITION BY stratum
                   ORDER BY md5(doc_id::VARCHAR), doc_id
                   ROWS UNBOUNDED PRECEDING
                 )::BIGINT AS cum_tokens
          FROM s
        )
        SELECT doc_id, stratum, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 2000 ORDER BY stratum, cum_tokens
        """,
        "corpus_curation": _corpus_curation_oracle(),
        "lsh_ann_multi": """
        WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        planes AS (
          SELECT p, list_transform(range(0, 64),
            x -> CASE WHEN ('0x' || substr(md5(p || ':' || x), 1, 2))::BIGINT % 2 = 0
                      THEN 1.0 ELSE -1.0 END) AS pv
          FROM range(0, 16) t(p)
        ), bkt AS (
          SELECT d.vec_id, (p // 4)::INT AS tbl,
                 sum(CASE WHEN list_dot_product(d.v, planes.pv) >= 0
                          THEN (1::BIGINT << (p % 4)::INT) ELSE 0 END)::BIGINT AS bucket
          FROM d, planes GROUP BY d.vec_id, (p // 4)
        ), q AS (
          SELECT vec_id AS query_id, tbl, bucket FROM bkt WHERE vec_id < 5
        ), cand AS (
          SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
          FROM bkt c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
          WHERE c.vec_id != q.query_id
        ), scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                       6) AS score
          FROM cand JOIN d a ON a.vec_id = cand.query_id JOIN d b ON b.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "vocab_topk": """
        WITH toks AS (
          SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
        ), counts AS (
          SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token
        )
        SELECT token, cnt, rank FROM (
          SELECT *, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM counts
        ) WHERE rank <= 20 ORDER BY rank
        """,
        "sessionization": """
        WITH gapped AS (
          SELECT user_id, event_id, ts,
            CASE WHEN date_diff('microsecond',
                                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                ts) > 1800 * 1000000
                 THEN 1 ELSE 0 END::BIGINT AS _new
          FROM events
        ), sess AS (
          SELECT user_id, ts,
            (sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS session_ix
          FROM gapped
        )
        SELECT user_id, session_ix, count(*)::BIGINT AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sess GROUP BY user_id, session_ix ORDER BY user_id, session_ix
        """,
        "semdedup": f"""
        WITH RECURSIVE all_e AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10
        ), d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e),
        cents0 AS (
          SELECT vec_id AS cent_id, v AS cv FROM d ORDER BY vec_id LIMIT 16
        ), asg AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT d.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY {_cosine_sql('d.v', 'c.cv')} DESC, c.cent_id) AS rk
            FROM d, cents0 c
          ) WHERE rk = 1
        ), e AS (
          SELECT d.vec_id, d.v, sqrt(list_dot_product(d.v, d.v)) AS nrm, asg.cell
          FROM d JOIN asg USING (vec_id)
        ), pairs AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib
          FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.99
        ), edges AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib AS a, ia AS b FROM pairs
        ), reach AS (
          SELECT vec_id AS src, vec_id AS dst FROM d
          UNION
          SELECT r.src, g.b AS dst FROM reach r JOIN edges g ON g.a = r.dst
        ), cl AS (
          SELECT dst AS vec_id, min(src) AS cluster_id FROM reach GROUP BY dst
        )
        SELECT cl.vec_id, asg.cell, cl.cluster_id,
               cl.vec_id = cl.cluster_id AS keep
        FROM cl JOIN asg USING (vec_id) ORDER BY cl.vec_id
        """,
        "d4_prune": f"""
        WITH RECURSIVE all_e AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10
        ), d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_e),
        cents0 AS (
          SELECT vec_id AS cent_id, v AS cv FROM d ORDER BY vec_id LIMIT 16
        ), asg AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT d.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY d.vec_id
                                      ORDER BY {_cosine_sql('d.v', 'c.cv')} DESC, c.cent_id) AS rk
            FROM d, cents0 c
          ) WHERE rk = 1
        ), e AS (
          SELECT d.vec_id, d.v, sqrt(list_dot_product(d.v, d.v)) AS nrm, asg.cell
          FROM d JOIN asg USING (vec_id)
        ), pairs AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib
          FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.99
        ), edges AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib AS a, ia AS b FROM pairs
        ), reach AS (
          SELECT vec_id AS src, vec_id AS dst FROM d
          UNION
          SELECT r.src, g.b AS dst FROM reach r JOIN edges g ON g.a = r.dst
        ), cl AS (
          SELECT dst AS vec_id, min(src) AS cluster_id FROM reach GROUP BY dst
        ), prot AS (
          SELECT e.vec_id, e.cell,
                 round(list_dot_product(e.v, c.cv)
                       / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))), 6) AS proto_sim
          FROM e JOIN cents0 c ON c.cent_id = e.cell
        ), sem AS (
          SELECT cl.vec_id, prot.cell, cl.cluster_id,
                 (cl.vec_id = cl.cluster_id) AS sem_keep, prot.proto_sim
          FROM cl JOIN prot USING (vec_id)
        ), rk AS (
          SELECT vec_id,
                 row_number() OVER (PARTITION BY cell
                                    ORDER BY proto_sim DESC, vec_id) AS proto_rank,
                 count(*) OVER (PARTITION BY cell) AS n_surv
          FROM sem WHERE sem_keep
        )
        SELECT s.vec_id, s.cell, s.cluster_id, s.sem_keep, s.proto_sim,
               coalesce(rk.proto_rank, 0)::BIGINT AS proto_rank,
               (s.sem_keep AND coalesce(
                  rk.proto_rank > (rk.n_surv * 25) // 100, FALSE)) AS keep
        FROM sem s LEFT JOIN rk USING (vec_id) ORDER BY s.vec_id
        """,
        "ivf_ann_topk_seeded": _ivf_oracle(0),
        "ivf_ann_topk": _ivf_oracle(1),
        "multimodal_features": """
        SELECT doc_id AS media_id,
          list_extract(['image','audio','video'],
                       (('0x'||substr(md5(doc_id||':kind'),1,8))::BIGINT % 3 + 1)::INT) AS kind,
          128::INT AS n_bytes
        FROM documents WHERE doc_id < 200 ORDER BY media_id
        """,
        "lsh_ann_topk": f"""
        WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        {_planes_cte(4, 64)},
        bkt AS (
          SELECT d.vec_id,
                 sum(CASE WHEN list_dot_product(d.v, planes.pv) >= 0
                          THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
          FROM d, planes GROUP BY d.vec_id
        ), e AS (
          SELECT d.vec_id, d.v, bkt.bucket FROM d JOIN bkt USING (vec_id)
        ), q AS (
          SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 5
        ), p2 AS (
          SELECT query_id, e.vec_id AS neighbor_id,
                 round(list_dot_product(qv, e.v)
                       / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))),
                       6) AS score
          FROM q JOIN e ON e.bucket = qb AND e.vec_id != query_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM p2
        ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is load-bearing: the driver correctness gate runs
    the first 50 entries. Round-7 rotation (r6 verdict item 2): the 36
    entries whose latest driver row is r5 lead, followed by the 14
    r6-green queries whose CODE changed in this optimization round
    (parse jvm_ok materialization, materialize_once barriers, the
    semantic_decontaminate arrow backend, enrich try_cast) — so the
    r6∪r7 union re-covers the registry and every r7-touched operator
    gets a fresh driver row. The r6-green untouched block trails."""
    return {
        # -- latest driver row is r5; lsh_verified_pairs reshape + CC
        #    consumers and both curation forms changed in r7 --
        "lsh_verified_pairs": q_lsh_verified_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "corpus_curation": q_corpus_curation,
        "corpus_curation_staged": q_corpus_curation_staged,
        "semdedup": q_semdedup,
        "d4_prune": q_d4_prune,
        "simhash64": q_simhash64,
        "simhash64_pairs": q_simhash64_pairs,
        "simhash": q_simhash,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidates": q_lsh_candidates,
        "ngram_jaccard": q_ngram_jaccard,
        "decontaminate": q_decontaminate,
        "dedup_incremental": q_dedup_incremental,
        "bloom_dedup": q_bloom_dedup,
        "dedup_exact": q_dedup_exact,
        "dedup_soft": q_dedup_soft,
        "dedup_segments": q_dedup_segments,
        "token_budget_sample": q_token_budget_sample,
        "url_stats": q_url_stats,
        "exact_substring_dedup": q_exact_substring_dedup,
        "shuffle_shards": q_shuffle_shards,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "stratified_sample": q_stratified_sample,
        "temperature_mix": q_temperature_mix,
        "repeat_factor_mix": q_repeat_factor_mix,
        "unimax_mix": q_unimax_mix,
        "incremental_lsh_dedup": q_incremental_lsh_dedup,
        "conv_turns": q_conv_turns,
        "turn_ordering": q_turn_ordering,
        "events_hourly": q_events_hourly,
        "events_enriched": q_events_enriched,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        # -- r6-green but code-touched in r7 (fresh row wanted) --
        "simhash_pairs": q_simhash_pairs,
        "dsir_sample": q_dsir_sample,
        "quality_classifier": q_quality_classifier,
        "lm_quality": q_lm_quality,
        "semantic_decontaminate": q_semantic_decontaminate,
        "enrich_ip_ranges": q_enrich_ip_ranges,
        "parse_combined": q_parse_combined,
        "parse_escaped": q_parse_escaped,
        "parse_escaped_hex": q_parse_escaped_hex,
        "parse_json_escaped": q_parse_json_escaped,
        "parse_errorlog": q_parse_errorlog,
        "parse_map_mode": q_parse_map_mode,
        "typed_fields": q_typed_fields,
        "multi_format_route": q_multi_format_route,
        # ---- driver window boundary (first 50 above) ----
        "route_sinks": q_route_sinks,
        "status_class_counts": q_status_class_counts,
        "render_marshal": q_render_marshal,
        "render_map": q_render_map,
        "parse_json_props": q_parse_json_props,
        "parse_none_dialect": q_parse_none_dialect,
        "gopher_filters": q_gopher_filters,
        "bm25_topk": q_bm25_topk,
        "ngram_topk": q_ngram_topk,
        "quality_signals": q_quality_signals,
        "dedup_normalized": q_dedup_normalized,
        "ccnet_buckets": q_ccnet_buckets,
        "corpus_profile": q_corpus_profile,
        "dedup_priority": q_dedup_priority,
        "redact_pii": q_redact_pii,
        "pack_chunks": q_pack_chunks,
        "repetition_stats": q_repetition_stats,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "doc_stats": q_doc_stats,
        "ann_topk": q_ann_topk,
        "near_dup_cosine": q_near_dup_cosine,
        "near_dup_cosine_multi": q_near_dup_cosine_multi,
        "lsh_ann_topk": q_lsh_ann_topk,
        "lsh_ann_multi": q_lsh_ann_multi,
        "multimodal_features": q_multimodal_features,
        "ivf_ann_topk_seeded": q_ivf_ann_topk_seeded,
        "vocab_topk": q_vocab_topk,
        "sessionization": q_sessionization,
        # hash-oracled since r3 via exact_means (deterministic two-level
        # summation tree replayed by DuckDB list_reduce):
        "ivf_ann_topk": q_ivf_ann_topk,
        "langid_trigram": q_langid_trigram,
        "source_overlap": q_source_overlap,
        "error_spikes": q_error_spikes,
        "tfidf_terms": q_tfidf_terms,
        "ngram_diversity": q_ngram_diversity,
    }
