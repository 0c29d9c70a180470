"""End-to-end Spark pipeline tests at small scale.

The ground truth is computed independently: collect the generated text
column and run the pure-Python oracle per line (FIXTURES.md §4 golden
strategy), then compare routed counts and per-field values exactly.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ngxspark.aggregate import (
    counts_by_role_status,
    first_turns,
    turns_per_conversation,
    windowed_counts,
    with_turn_order,
)
from ngxspark.enrich import enrich_all
from ngxspark.fmtcompile import COMBINED_FMT, compile_format
from ngxspark.gen import gen_transcripts
from ngxspark.oracle import DecodeError, decode_struct
from ngxspark.pipeline import ACCESS_SCHEMA, combined_plan, parse_enrich_route, pipeline_aggregates
from ngxspark.parse import parse_lines
from ngxspark.render import render_expr
from ngxspark.route import write_fanout

N_ROWS = 4000


@pytest.fixture(scope="module")
def transcripts(spark):
    df = gen_transcripts(spark, N_ROWS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def routed(transcripts):
    return parse_enrich_route(transcripts).cache()


def oracle_parse_all(rows):
    """rows: list of (conv_id, turn_idx, text) → dict keyed by (conv, turn)."""
    fmt = compile_format(COMBINED_FMT)
    out = {}
    for conv, turn, text in rows:
        try:
            rec = decode_struct(fmt, ACCESS_SCHEMA, text.encode("utf-8"))
            rec = {k: v.decode("utf-8") if isinstance(v, bytes) else v for k, v in rec.items()}
            out[(conv, turn)] = (True, rec)
        except DecodeError as e:
            out[(conv, turn)] = (False, str(e))
    return out


def test_generator_deterministic(spark):
    a = gen_transcripts(spark, 500).orderBy("conv_id", "turn_idx").collect()
    b = gen_transcripts(spark, 500).repartition(13).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_generator_schema_and_skew(transcripts):
    assert dict(transcripts.dtypes) == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    }
    # turn_idx unique per conversation
    dup = (
        transcripts.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    # hottest conversation holds a meaningful share (skew present)
    top = transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert top["count"] > N_ROWS * 0.02


def test_parse_matches_oracle_per_row(spark, transcripts, routed):
    rows = [(r.conv_id, r.turn_idx, r.text) for r in transcripts.collect()]
    truth = oracle_parse_all(rows)
    got = routed.select("conv_id", "turn_idx", "_matched", "_error", *ACCESS_SCHEMA).collect()
    assert len(got) == len(rows)
    for r in got:
        ok, payload = truth[(r.conv_id, r.turn_idx)]
        assert r._matched == ok, f"{r.conv_id}/{r.turn_idx}: matched={r._matched}, oracle={ok} ({payload})"
        if ok:
            for k in ACCESS_SCHEMA:
                assert r[k] == payload[k], f"{r.conv_id}/{r.turn_idx} field {k}: {r[k]!r} != {payload[k]!r}"
        else:
            assert r._error == payload


def test_route_counts_match_oracle(spark, transcripts, routed):
    rows = [(r.conv_id, r.turn_idx, r.text) for r in transcripts.collect()]
    truth = oracle_parse_all(rows)

    def sink_of(ok, rec):
        if not ok:
            return "reject"
        c = rec["status"] // 100
        return {5: "server_error", 4: "client_error", 3: "redirect"}.get(c, "ok")

    expected = pd.Series(
        [sink_of(ok, payload) for ok, payload in truth.values()]
    ).value_counts().to_dict()
    got = {r.sink: r.cnt for r in pipeline_aggregates(routed)["per_sink"].collect()}
    assert got == expected
    # all four text classes are exercised
    assert set(got) == {"ok", "redirect", "client_error", "server_error", "reject"}


def test_aggregates_deterministic_across_parallelism(routed):
    aggs = pipeline_aggregates(routed)
    a = {k: v.collect() for k, v in aggs.items()}
    repart = routed.repartition(17)
    b = {k: v.collect() for k, v in pipeline_aggregates(repart).items()}
    assert a == b


def test_windowed_counts_sum_to_matched(routed):
    w = pipeline_aggregates(routed)["by_window"]
    assert w.agg(F.sum("cnt")).first()[0] == routed.filter("_matched").count()


def test_pipeline_aggregates_parse_once(spark, tmp_path):
    """The four aggregates share one routed prefix: after collecting them,
    no final plan scans the input or crosses into Python, and each equals
    its aggregate function over the unshared routed frame."""
    from ngxspark.sources import read_transcripts

    path = str(tmp_path / "tx")
    gen_transcripts(spark, 600).write.parquet(path)
    routed = parse_enrich_route(read_transcripts(spark, path))
    aggs = pipeline_aggregates(routed)
    got = {name: df.collect() for name, df in aggs.items()}
    for name, df in aggs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "Scan parquet" not in plan, (name, plan)
    expected = {
        "per_sink": routed.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).orderBy("sink"),
        "by_role_status": counts_by_role_status(routed),
        "by_conv_bucket": turns_per_conversation(routed),
        "by_window": windowed_counts(routed.filter(F.col("_matched"))),
    }
    assert got == {name: df.collect() for name, df in expected.items()}


def test_pipeline_aggregates_not_shared_across_calls(spark, tmp_path):
    """The shared prefix lives for one call only: after a parquet path of
    routed rows is replaced, a second call over the same path sees the new
    rows, not the first call's. The input is already routed so that both
    calls build the same plan, which a plan cache keyed on plan equality
    would answer from the first call; the files are swapped outside Spark
    because a Spark overwrite refreshes such a cache itself."""
    import shutil

    path, staged = str(tmp_path / "routed"), str(tmp_path / "staged")

    def write_routed(n, to):
        parse_enrich_route(gen_transcripts(spark, n)).write.parquet(to)

    def per_sink():
        aggs = pipeline_aggregates(spark.read.parquet(path))
        return {r.sink: r.cnt for r in aggs["per_sink"].collect()}

    write_routed(300, path)
    assert sum(per_sink().values()) == 300
    write_routed(700, staged)
    shutil.rmtree(path)
    shutil.move(staged, path)
    want = parse_enrich_route(gen_transcripts(spark, 700)).groupBy("sink").count().collect()
    assert per_sink() == {r.sink: r["count"] for r in want}


# (id, status, tool, role): NULL, empty, unknown and case-mismatched keys,
# status digits outside 1..5 (99 → 0, 600 → 6, -150 → -2), and every
# known tool and role.
ENRICH_EDGE_ROWS = [
    (0, None, None, None),
    (1, 99, "", ""),
    (2, 100, "nope", "robot"),
    (3, 599, "bash", "user"),
    (4, 600, "read", "assistant"),
    (5, -150, "grep", "system"),
    (6, 200, "write", "tool"),
    (7, 302, "edit", "user"),
    (8, 404, "none", "tool"),
    (9, 499, "BASH", "User"),
]


def _enrich_edge_frame(spark):
    return spark.createDataFrame(ENRICH_EDGE_ROWS, "id int, status bigint, tool string, role string")


def test_enrich_all_values_and_schema(spark):
    """Every enrich column over the edge rows, with the full schema: a
    missing or NULL key gives 'unknown' for the label columns and NULL for
    ``is_side_effecting`` and ``weight``, with ANSI on and off."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            _check_enrich_edge_rows(enrich_all(_enrich_edge_frame(spark)))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def _check_enrich_edge_rows(out):
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == [
        ("id", "int", True),
        ("status", "bigint", True),
        ("tool", "string", True),
        ("role", "string", True),
        ("status_class", "string", False),
        ("tool_family", "string", False),
        ("is_side_effecting", "boolean", True),
        ("role_kind", "string", False),
        ("weight", "double", True),
    ]
    got = [tuple(r)[4:] for r in out.orderBy("id").collect()]
    assert got == [
        ("unknown", "unknown", None, "unknown", None),
        ("unknown", "unknown", None, "unknown", None),
        ("1xx", "unknown", None, "unknown", None),
        ("5xx", "shell", True, "human", 1.0),
        ("unknown", "fs_read", False, "model", 1.0),
        ("unknown", "fs_read", False, "control", 0.5),
        ("2xx", "fs_write", True, "machine", 0.8),
        ("3xx", "fs_write", True, "human", 1.0),
        ("4xx", "none", False, "machine", 0.8),
        ("4xx", "unknown", None, "unknown", None),
    ]


def test_events_enriched_unmatched_type_gets_null_family(spark, tmp_path):
    """q_events_enriched looks the family up in a literal map: an
    unmatched or NULL event_type falls in the NULL family group, as the
    left join it replaced gave, and the plan holds no broadcast."""
    from ngxspark.queries import q_events_enriched

    rows = [("click", 1.0), ("view", 2.0), ("error", 4.0), ("zzz", 8.0), (None, 16.0)]
    events = spark.createDataFrame(rows, "event_type string, value double")
    events.write.parquet(str(tmp_path / "events.parquet"))
    out = q_events_enriched(spark, str(tmp_path))
    assert [tuple(r) for r in out.collect()] == [
        (None, 2, 24.0),
        ("alert", 1, 4.0),
        ("engagement", 2, 3.0),
    ]
    assert "BroadcastExchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_enrich_plan_has_no_join(spark, transcripts):
    """The constant dimensions are literal-map lookups inside the
    projection: no join in the optimized plan, no broadcast in the physical
    one, and building ``pipeline_aggregates`` launches no Spark job (a
    broadcast join would run one job per dimension at build time)."""
    out = enrich_all(_enrich_edge_frame(spark))
    qe = out._jdf.queryExecution()
    assert "Join" not in qe.optimizedPlan().toString(), qe.optimizedPlan().toString()
    assert "BroadcastExchange" not in qe.executedPlan().toString(), qe.executedPlan().toString()

    sc = spark.sparkContext
    routed = parse_enrich_route(transcripts)
    sc.setJobGroup("enrich-build", "enrich-build")
    try:
        aggs = pipeline_aggregates(routed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("enrich-build")) == []
    assert sum(r.cnt for r in aggs["per_sink"].collect()) == N_ROWS


def test_turn_ordering_window(transcripts):
    ordered = with_turn_order(transcripts)
    bad = ordered.filter(F.col("turn_order") != F.col("turn_idx") + 1).count()
    assert bad == 0
    assert first_turns(transcripts).groupBy("conv_id").count().filter("count != 1").count() == 0


def test_render_roundtrip_spark(spark, transcripts, routed):
    """render(parse(text)) == text for matched rows (Marshal direction on JVM)."""
    fmt = compile_format(COMBINED_FMT)
    matched = routed.filter("_matched")
    rendered = matched.withColumn(
        "rendered", render_expr(fmt, ACCESS_SCHEMA)
    )
    diff = rendered.filter(F.col("rendered") != F.col("text")).count()
    assert diff == 0


def test_fanout_write_and_counts(tmp_path, routed):
    counts = write_fanout(routed, str(tmp_path / "sinks"))
    spark = routed.sparkSession
    back = spark.read.parquet(str(tmp_path / "sinks"))
    assert back.count() == counts["total"] == N_ROWS
    per = {r.sink: r.cnt for r in back.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    for s, c in per.items():
        assert counts[s] == c


def test_resume_manifest(tmp_path, routed):
    from ngxspark.runner import Manifest, run_resumable

    out = str(tmp_path / "run1")
    t1 = run_resumable(routed, out, n_buckets=8, group_size=3)
    assert t1["rows"] == N_ROWS and t1["buckets_run"] == 8
    # resume: nothing left to do
    t2 = run_resumable(routed, out, n_buckets=8, group_size=3)
    assert t2["buckets_run"] == 0 and t2["buckets_done"] == 8
    # partial resume: wipe 2 buckets from the manifest → only those rerun
    man = Manifest.load(out)
    for b in (1, 5):
        del man.buckets[str(b)]
    man._flush()
    t3 = run_resumable(routed, out, n_buckets=8, group_size=3)
    assert t3["buckets_run"] == 2
    spark = routed.sparkSession
    assert spark.read.parquet(out + "/data").count() == N_ROWS


def test_resume_lineage_per_bucket(tmp_path, routed):
    """Lineage records exact per-bucket rows + parse rate (not just group
    aggregates); bucket rows sum to the corpus size."""
    from ngxspark.runner import Manifest, run_resumable

    out = str(tmp_path / "lineage")
    run_resumable(routed, out, n_buckets=8, group_size=3)
    man = Manifest.load(out)
    per_bucket = {k: v for k, v in man.buckets.items() if not k.startswith("_")}
    assert len(per_bucket) == 8
    assert man.staged()
    assert sum(v["rows"] for v in per_bucket.values()) == N_ROWS
    for v in per_bucket.values():
        assert 0.9 < v["parse_rate"] <= 1.0
        assert v["matched"] <= v["rows"]


def test_resume_scan_is_bucket_pruned(tmp_path, spark, transcripts):
    """The round-1 scale bug: every bucket group re-read (and re-parsed)
    the full source. Now the staging is bucket-partitioned and the
    per-group filter must prune at the scan — a 2-bucket group's job reads
    only those partitions' files, and the parse transform runs only on the
    group's rows."""
    from ngxspark.pipeline import combined_plan
    from ngxspark.runner import BUCKET_COL, Manifest, run_resumable

    seen_rows = []

    def transform(df):
        parsed = parse_lines(df, combined_plan())
        return parsed

    out = str(tmp_path / "pruned")
    t = run_resumable(transcripts, out, n_buckets=8, group_size=8, transform=transform)
    assert t["rows"] == N_ROWS
    # resume two buckets: the pruned read must touch only their files
    man = Manifest.load(out)
    for b in (2, 6):
        del man.buckets[str(b)]
    man._flush()
    staged = spark.read.parquet(out + "/_staging")
    pruned = staged.filter(F.col(BUCKET_COL).isin([2, 6]))
    # the bucket filter must reach the scan as a PARTITION filter (pruned
    # at file listing — inputFiles() doesn't reflect pruning, the plan does)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan_str = buf.getvalue()
    pf = plan_str.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan_str
    assert BUCKET_COL in pf[1][:200], pf[1][:200]
    assert pruned.count() < N_ROWS
    t2 = run_resumable(transcripts, out, n_buckets=8, group_size=8, transform=transform)
    assert t2["buckets_run"] == 2
    # per-group source rows == only the group's share, not the corpus
    man2 = Manifest.load(out)
    assert man2.buckets["2"]["source_rows_in_group"] < N_ROWS
    back = spark.read.parquet(out + "/data")
    assert back.count() == N_ROWS and back.filter("_matched").count() > 0


def test_sources_dispatch(spark, tmp_path, transcripts):
    """Source/sink abstraction: path → parquet; table ref detection."""
    from ngxspark.sources import is_table_ref, read_transcripts, write_table

    assert is_table_ref("lake.logs.transcripts") and is_table_ref("db.t")
    assert not is_table_ref("/data/transcripts") and not is_table_ref("s3://b/p")
    p = str(tmp_path / "src")
    write_table(transcripts, p)
    back = read_transcripts(spark, p)
    assert back.count() == N_ROWS
    assert dict(back.dtypes) == dict(transcripts.dtypes)


def test_render_lines_exact_with_controls(spark):
    """Hybrid exact Marshal: control bytes route through the oracle kernel
    (byte-for-byte escape.go, incl. \\xHH and the json \\00uXX quirk);
    clean rows stay on the JVM expression — outputs must equal the oracle
    for every row, both dialects."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.oracle import encode_struct
    from ngxspark.render import render_lines

    bindings = {"a": "string", "n": "int32"}
    rows = [
        ("plain", 1),
        ('quote " and \\ backslash', 2),
        ("ctrl \x01\x1f tab\t", 3),
        ("newline\nmixed \x07", 4),
        (None, 5),  # NULL bind → nil token (ptr analogue)
    ]
    for fmt_str in ["a=$a n=$n;", 'escape=json;{"a":"$a","n":$n}']:
        fmt = compile_format(fmt_str)
        df = spark.createDataFrame(rows, "a string, n int")
        got = {
            r.n: r.line
            for r in render_lines(df, fmt, bindings).select("n", "line").collect()
        }
        for a, n in rows:
            exp = encode_struct(fmt, bindings, {"a": a.encode() if a else a, "n": n}).decode()
            assert got[n] == exp, f"{fmt_str!r} a={a!r}: {got[n]!r} != {exp!r}"


def test_render_map_expr_matches_oracle(spark):
    from ngxspark.fmtcompile import compile_format
    from ngxspark.oracle import encode_map
    from ngxspark.render import render_map_expr

    fmt = compile_format('k="$k" $_ v="$v"')
    df = spark.createDataFrame(
        [("x", "y"), ('q"uote', "b\\s"), (None, "z")], "k string, v string"
    )
    got = {r.k: r.line for r in df.withColumn("line", render_map_expr(fmt)).collect()}
    assert got["x"] == encode_map(fmt, {"k": b"x", "v": b"y"}).decode()
    assert got['q"uote'] == encode_map(fmt, {"k": b'q"uote', "v": b"b\\s"}).decode()
    # missing/NULL key → zero-value element "" (codec_map.go:78-80)
    assert got[None] == encode_map(fmt, {"v": b"z"}).decode()


def test_render_null_bind_nil_token(spark):
    """ptr-codec analogue: a bound-but-NULL column renders the dialect nil
    token on BOTH the JVM expression and the oracle kernel."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.oracle import encode_struct
    from ngxspark.render import render_expr

    for fmt_str, nil in [("u=$u;", "-"), ("escape=json;u=$u;", "null")]:
        fmt = compile_format(fmt_str)
        df = spark.createDataFrame([(None,), ("x",)], "u string")
        got = sorted(
            r.line for r in df.select(render_expr(fmt, {"u": "string"}).alias("line")).collect()
        )
        assert got == sorted([f"u={nil};", "u=x;"])
        assert encode_struct(fmt, {"u": "string"}, {"u": None}).decode() == f"u={nil};"


def test_table_ref_excludes_filenames():
    """ADVICE fix: bare filenames like 'transcripts.parquet' must dispatch
    as paths, not Iceberg table refs."""
    from ngxspark.sources import is_table_ref

    for name in ("transcripts.parquet", "x.JSON", "a.b.csv", "dump.orc", "t.txt"):
        assert not is_table_ref(name), name
    assert is_table_ref("lake.logs.transcripts") and is_table_ref("db.t")


def _iceberg_available(spark):
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog", False,
            spark._jvm.Thread.currentThread().getContextClassLoader(),
        )
        return True
    except Exception:
        return False


def test_iceberg_roundtrip_when_runtime_present(spark, transcripts, tmp_path):
    """E2E Iceberg read/write through sources.py dispatch. SKIPS when the
    iceberg-spark-runtime jar is absent (this sandbox has no jar and no
    network); on a real cluster with the runtime on the classpath this
    exercises the north rule's literal input spec."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime not on classpath (sandbox has no network)")
    from ngxspark.sources import read_transcripts, write_table

    spark.conf.set("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.local.warehouse", str(tmp_path / "wh"))
    write_table(transcripts, "local.db.transcripts")
    back = read_transcripts(spark, "local.db.transcripts")
    assert back.count() == N_ROWS


def test_bucketed_join_is_shuffle_free(spark, transcripts, tmp_path):
    """Two tables bucketed identically on conv_id must join with NO
    shuffle exchange — the co-location strategy for repeated big joins."""
    from ngxspark.sources import write_bucketed

    write_bucketed(
        transcripts, "bk_a", ["conv_id"], n_buckets=8, sort_cols=["conv_id"],
        path=str(tmp_path / "bk_a"),
    )
    agg = transcripts.groupBy("conv_id").agg(F.count("*").alias("turns"))
    write_bucketed(
        agg, "bk_b", ["conv_id"], n_buckets=8, sort_cols=["conv_id"],
        path=str(tmp_path / "bk_b"),
    )
    j = spark.table("bk_a").join(spark.table("bk_b").hint("merge"), "conv_id")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:1500]
    assert j.count() == N_ROWS
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")


def test_lsh_skew_guard_excludes_degenerate_buckets(spark):
    """max_bucket excludes degenerate (boilerplate) bands from pair
    expansion — explicitly, mirroring lsh_candidate_groups' n_docs."""
    from ngxspark.dedup import lsh_verified_pairs

    rows = [(i, "common boiler plate text exactly") for i in range(40)]
    rows += [(100 + i, f"unique document number {i} with words {i*7}") for i in range(6)]
    rows += [(200, "pair text alpha beta gamma"), (201, "pair text alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = lsh_verified_pairs(df, threshold=0.5)
    # 40 identical docs → C(40,2)=780 pairs + the injected pair
    assert unguarded.count() >= 780
    guarded = lsh_verified_pairs(df, threshold=0.5, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    assert (200, 201) in got
    assert all(not (a < 100 and b < 100) for a, b in got), got


def test_parse_fallback_chain_three_formats(spark):
    """N-format fallback: each row is claimed by the FIRST matching plan;
    later plans see NULL for already-matched rows (masked input)."""
    from ngxspark.parse import parse_fallback_chain
    from ngxspark.plan import plan_struct

    plans = {
        "kv": plan_struct(compile_format("k=$k v=$v"), {"k": "string", "v": "int64"}),
        "log": plan_struct(compile_format("[$lvl] $msg"), {"lvl": "string", "msg": "string"}),
        "csv": plan_struct(compile_format("$a,$b,$c"), {"a": "string", "b": "string", "c": "string"}),
    }
    lines = [
        "k=x v=5",
        "[warn] disk full",
        "p,q,r",
        "k=y v=nope",   # kv regex hits but cast fails → falls to csv? no comma → reject... 
        "total junk",
        None,
    ]
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    out = {r.text: r for r in parse_fallback_chain(df, plans).collect()}
    assert out["k=x v=5"]._fmt == "kv"
    assert out["[warn] disk full"]._fmt == "log"
    assert out["p,q,r"]._fmt == "csv"
    # kv rejects (cast), log rejects, csv rejects (no comma) → NULL fmt
    assert out["k=y v=nope"]._fmt is None
    assert out["total junk"]._fmt is None
    assert out[None]._fmt is None
    # struct payloads land under the plan keys
    assert out["k=x v=5"].kv.v == 5 and out["p,q,r"].csv.b == "q"


def test_render_lines_random_format_differential(spark):
    """Random-format render differential: the hybrid exact Marshal
    (render_lines — JVM expressions + control-byte oracle-kernel routing)
    must be byte-identical to oracle.encode_struct for random templates ×
    values carrying NULLs, control bytes, quotes, backslashes, unicode."""
    import random

    from ngxspark.fmtcompile import FormatError, compile_format
    from ngxspark.oracle import encode_struct
    from ngxspark.render import render_lines

    rng = random.Random(99)
    lit = list('ab"\\x un0:,-/ ')
    vals = [None, "", "plain", 'q"uote', "back\\slash", "ctrl\x01x", "tab\tnl\n", "uni🌉"]
    tested = 0
    while tested < 8:
        fs = rng.choice(["", "", "escape=json;", "escape=none;"]) + "".join(
            ("$" + rng.choice("abc"))
            if rng.random() < 0.5
            else "".join(rng.choice(lit) for _ in range(rng.randint(1, 3)))
            for _ in range(rng.randint(1, 5))
        )
        try:
            fmt = compile_format(fs)
        except FormatError:
            continue
        tested += 1
        bindings = {"a": "string", "b": "int64", "c": "string"}
        rows = [
            (i, rng.choice(vals), rng.choice([None, 0, -5, 2**62]), rng.choice(vals))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "i int, a string, b long, c string")
        got = {r.i: r.line for r in render_lines(df, fmt, bindings).select("i", "line").collect()}
        for i, a, b, c in rows:
            exp = encode_struct(
                fmt,
                bindings,
                {"a": a.encode() if isinstance(a, str) else a, "b": b,
                 "c": c.encode() if isinstance(c, str) else c},
            ).decode("utf-8", "replace")
            assert got[i] == exp, f"fmt={fs!r} row {i}: {got[i]!r} != {exp!r}"


def test_render_exact_kernel_big_int64_with_nulls(spark):
    """Regression (found by render fuzz): a nullable long column crosses
    the Arrow boundary into the exact kernel as float64, rounding values
    above 2^53 — 2^63-1 rendered as ...808. Numerics now cross as exact
    JVM-rendered strings."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.oracle import encode_struct
    from ngxspark.render import render_lines

    fmt = compile_format("escape=json;$a $b")
    bindings = {"a": "string", "b": "int64"}
    rows = [(0, "ctrl\x01", 2**63 - 1), (1, "clean", None), (2, "x\x02", -(2**63))]
    df = spark.createDataFrame(rows, "i int, a string, b long")
    got = {r.i: r.line for r in render_lines(df, fmt, bindings).select("i", "line").collect()}
    for i, a, b in rows:
        exp = encode_struct(fmt, bindings, {"a": a.encode(), "b": b}).decode()
        assert got[i] == exp, f"row {i}: {got[i]!r} != {exp!r}"
    assert got[0].endswith(str(2**63 - 1))
    assert got[2].endswith(str(-(2**63)))


def test_render_map_null_value_with_control_byte(spark):
    """Regression (found by map-mode render fuzz): a row taking the exact
    kernel (control byte present) with a NULL value in another variable
    used to crash encode_map (None concat); NULL models a MISSING map key
    → zero-value elem '' on both tiers (codec_map.go:78-80)."""
    from ngxspark.fmtcompile import compile_format
    from ngxspark.oracle import encode_map
    from ngxspark.render import render_lines

    fmt = compile_format("escape=json;$a:$b")
    rows = [(0, "ctrl\x01", None), (1, None, "plain"), (2, "clean", None)]
    df = spark.createDataFrame(rows, "i int, a string, b string")
    got = {r.i: r.line for r in render_lines(df, fmt, {}, mode="map").select("i", "line").collect()}
    for i, a, b in rows:
        exp = encode_map(
            fmt, {k: v.encode() for k, v in {"a": a, "b": b}.items() if v is not None}
        ).decode()
        assert got[i] == exp, f"row {i}: {got[i]!r} != {exp!r}"
