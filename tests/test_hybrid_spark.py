"""Hybrid parse ≡ the oracle through real Spark plans.

``parse_lines`` (JVM tier, oracle UDF for the tail) must be bit-identical
to the UDF body ``make_parse_fn`` — the oracle interpreter — run on the
driver over the same lines, on every text class, including formats with
>9 capture groups (double-digit $NN backreferences in the regexp_replace
extraction).
"""

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ngxspark.fmtcompile import COMBINED_FMT, compile_format
from ngxspark.parse import ERROR_COL, MATCHED_COL, make_parse_fn, parse_lines
from ngxspark.plan import plan_map, plan_struct
from tests.fixtures import ACCESS_BINDINGS


def oracle_rows(plan, lines):
    """make_parse_fn over ``lines`` on the driver, as the Rows parse_lines
    collects from a one-column ``text`` DataFrame."""
    res = make_parse_fn(plan)(pd.Series(lines, dtype="object"))
    res[MATCHED_COL] = res[MATCHED_COL].astype(object)  # numpy bool → bool
    cols = [f.name for f in plan.fields] + [MATCHED_COL, ERROR_COL]
    return [Row(text=line, **{c: res[c][i] for c in cols}) for i, line in enumerate(lines)]


def hybrid_and_oracle(spark, plan, lines):
    """(oracle, hybrid) Rows for ``lines`` (None ok), both sorted."""
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    return sorted(oracle_rows(plan, lines), key=repr), sorted(parse_lines(df, plan).collect(), key=repr)


def test_hybrid_equals_oracle_combined(spark):
    lines = [
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "ua"',
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "Agent \\"X\\""',
        "junk",
        None,
        '1.2.3.4 - u [t] "GET / HTTP/1.1" abc 7 "-" "ua"',
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 99999999999999999999999 7 "-" "ua"',
        "with \x01 sentinel - in [t] text",
        "",
    ]
    plan = plan_struct(compile_format(COMBINED_FMT), ACCESS_BINDINGS)
    # include the None row: null-text handling must match the oracle UDF
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    nulls = parse_lines(df, plan).where(F.col("text").isNull()).collect()
    assert nulls and nulls[0]._matched is False and nulls[0]._error == "null text"


def test_hybrid_double_digit_groups(spark):
    """12 bound vars → $10..$12 backreferences must not be misparsed as
    $1 followed by literal digits."""
    fmt = compile_format(";".join(f"$v{i}" for i in range(12)))
    plan = plan_map(fmt)
    line = ";".join(f"x{i}" for i in range(12))
    a, h = hybrid_and_oracle(spark, plan, [line, line + ";extra", "short"])
    assert a == h
    got = {r.text: r for r in h}
    assert got[line].v0 == "x0" and got[line].v9 == "x9" and got[line].v10 == "x10"
    assert got[line].v11 == "x11"
    # trailing bound var consumes the rest
    assert got[line + ";extra"].v11 == "x11;extra"


def test_hybrid_uint64_decimal_roundtrip(spark):
    from decimal import Decimal

    plan = plan_struct(compile_format("v=$v;"), {"v": "uint64"})
    df = spark.createDataFrame(
        [("v=18446744073709551615;",), ("v=5;",), ("v=-1;",)], "text string"
    )
    rows = {r.text: r for r in parse_lines(df, plan).collect()}
    assert rows["v=18446744073709551615;"].v == Decimal(2**64 - 1)
    assert rows["v=5;"].v == Decimal(5)
    assert rows["v=-1;"]._matched is False


def test_hybrid_json_dialect(spark):
    plan = plan_map(compile_format('escape=json;{"$k":"$v"}'))
    lines = ['{"a":"b"}', '{"a\\\\":"b\\""}', '{"x":"\\ud83c\\udf09"}', "{bad"]
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h
    got = {r.text: r for r in h}
    assert got['{"x":"\\ud83c\\udf09"}'].v == "🌉"


def test_hybrid_escaped_default_dialect(spark):
    """escape=default rows WITH backslashes: simple \\\\ and \\" escapes take
    the JVM fast path, \\xHH goes to the oracle tail — the hybrid parse
    must match the oracle across the whole matrix."""
    lines = [
        # simple escapes in the bound UA (JVM regexp_replace unescape)
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "Agent \\"X\\" \\\\v1"',
        # \xHH escape → oracle tail (A = \x41)
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "ua \\x41\\x42"',
        # bad escape inside a bound value → whole-row reject w/ kernel error
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "ua \\n bad"',
        # trailing lone backslash: the retry rule SKIPS the final quote
        # (preceded by \) → EOF while seeking the delimiter
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "ua \\"',
        # escaped quote immediately before the closing delimiter
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "\\""',
        # backslash in a DISCARDED segment only (referer is bound here, but
        # remote_user etc. are strings) — still must parse
        '1.2.3.4 - \\ [t] "GET / HTTP/1.1" 200 7 "-" "ua"',
        # escaped quote in the REQUEST field (delimiter '" ' with retry)
        '1.2.3.4 - u [t] "GET /a\\"b HTTP/1.1" 200 7 "-" "ua"',
    ]
    plan = plan_struct(compile_format(COMBINED_FMT), ACCESS_BINDINGS)
    assert plan.esc_aware
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h
    got = {r.text: r for r in h}
    assert got[lines[0]].http_user_agent == 'Agent "X" \\v1'
    assert got[lines[1]].http_user_agent == "ua AB"
    assert got[lines[2]]._matched is False
    assert got[lines[2]]._error == "found unknown escape format '\\n'"
    assert got[lines[3]]._matched is False
    assert got[lines[3]]._error == 'got unexpected EOF: expecting "\\"" after $http_user_agent'
    assert got[lines[4]].http_user_agent == '"'
    assert got[lines[6]].request == 'GET /a"b HTTP/1.1'


def test_hybrid_escaped_typed_field(spark):
    """A typed (int) bind whose raw segment contains \\x31 ('1') must
    parse as the oracle does (any backslash in a typed bind sends the row
    to the oracle tail, which unescapes then casts; the invalid-hex row
    gets the kernel's whole-row reject there too)."""
    plan = plan_struct(compile_format('"$v"x'), {"v": "int32"})
    assert plan.esc_aware
    lines = ['"\\x31\\x32"x', '"12"x', '"\\x3g"x']
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h
    got = {r.text: r for r in h}
    assert got['"\\x31\\x32"x'].v == 12
    assert got['"12"x'].v == 12
    assert got['"\\x3g"x']._matched is False


def _tail_rows(spark, plan, lines, monkeypatch):
    """Parse `lines` hybrid with tier metrics on; return (rows, arrow_rows).

    Collects UNSORTED: a global orderBy re-runs the plan for its range
    sampling, and the Observation would then count every row twice."""
    from ngxspark import parse as parse_mod

    monkeypatch.setenv("SPARK_GRAFT_PARSE_METRICS", "1")
    parse_mod.take_parse_tier_obs()  # drop any stale observations
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    rows = parse_lines(df, plan).collect()
    obs = parse_mod.take_parse_tier_obs()
    assert len(obs) == 1
    got = obs[0][1].get
    monkeypatch.delenv("SPARK_GRAFT_PARSE_METRICS")
    assert got["rows"] == len(lines)
    return rows, got["arrow_rows"]


def test_hex_escape_parity(spark, monkeypatch):
    """\\xHH values with bytes ≤ 0x7F (incl. every control byte the escape
    writer can emit, escape.go:103) cross to the oracle tail, which must
    produce the reference values. Only the row whose escapes
    are all simple (``\\\\`` then a LITERAL x41) stays on the JVM."""
    plan = plan_map(compile_format('"$ua" $n'))
    assert plan.esc_aware
    lines = [
        '"hex \\x41 end" 1',
        '"ctl \\x00\\x1f\\x0a tab\\x09" 2',
        '"del \\x7f" 3',
        '"mix \\"q\\" \\\\ \\x42" 4',   # simple + hex in one value
        '"esc-bs-then-x \\\\x41" 5',    # \\ then LITERAL x41 — not a hex escape
    ]
    rows, tail = _tail_rows(spark, plan, lines, monkeypatch)
    assert tail == 4, f"expected the 4 hex rows on the oracle tail, got {tail}"
    got = {r.text: r for r in rows}
    assert got[lines[0]].ua == "hex A end"
    assert got[lines[1]].ua == "ctl \x00\x1f\x0a tab\x09"
    assert got[lines[2]].ua == "del \x7f"
    assert got[lines[3]].ua == 'mix "q" \\ B'
    assert got[lines[4]].ua == "esc-bs-then-x \\x41"
    # and the whole set is bit-identical to the oracle
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h


def test_hex_escape_high_byte_and_malformed_parity(spark):
    """High bytes (\\x80+: UTF-8 splicing / U+FFFD policy) and malformed
    escapes stay on the oracle tail — parity, not fast-path."""
    plan = plan_map(compile_format('"$ua" $n'))
    lines = [
        '"hi \\x80" 1',            # lone high byte → U+FFFD via bytes decode
        '"acc \\xC3\\xA9" 2',      # UTF-8 é assembled from two hex bytes
        '"bad \\xZZ" 3',           # invalid hex → whole-row reject
        '"eof \\x4" 4',            # truncated escape → whole-row reject
        '"unk \\q" 5',             # unknown escape → whole-row reject
    ]
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h
    got = {r.text: r for r in h}
    assert got['"hi \\x80" 1'].ua == "hi �"
    assert got['"acc \\xC3\\xA9" 2'].ua == "acc é"
    assert got['"bad \\xZZ" 3']._matched is False
    assert "invalid hex escape" in got['"bad \\xZZ" 3']._error
    assert got['"eof \\x4" 4']._matched is False
    assert got['"unk \\q" 5']._matched is False


def test_json_named_and_unicode_parity(spark, monkeypatch):
    """json named escapes and \\uXXXX (surrogates included) unescape on the
    oracle tail; values must match the reference."""
    plan = plan_map(compile_format('escape=json;{"u":"$u","n":$n}'))
    assert plan.esc_aware_clean
    named_lines = [
        '{"u":"tab\\there\\nnl \\u0041","n":1}',
        '{"u":"acc \\u00e9 snow \\u2603 max \\uffff","n":2}',
        '{"u":"bf \\b\\f\\r slash \\/ q \\" bs \\\\","n":3}',
    ]
    rows, tail = _tail_rows(spark, plan, named_lines, monkeypatch)
    assert tail == 3, f"expected all 3 json escape rows on the oracle tail, got {tail}"
    got = {r.text: r for r in rows}
    assert got[named_lines[0]].u == "tab\there\nnl A"
    assert got[named_lines[1]].u == "acc é snow ☃ max ￿"
    assert got[named_lines[2]].u == 'bf \b\f\r slash / q " bs \\'
    surrogate_lines = [
        '{"u":"pair \\ud83c\\udf09","n":1}',   # valid pair → U+1F309
        '{"u":"lone \\ud83c end","n":2}',      # unpaired → U+FFFD
        '{"u":"bad \\u12","n":3}',             # truncated → reject
    ]
    a, h = hybrid_and_oracle(spark, plan, named_lines + surrogate_lines)
    assert a == h
    hh = {r.text: r for r in h}
    assert hh['{"u":"pair \\ud83c\\udf09","n":1}'].u == "pair \U0001f309"
    assert hh['{"u":"lone \\ud83c end","n":2}'].u == "lone � end"
    assert hh['{"u":"bad \\u12","n":3}']._matched is False


def test_hybrid_bordered_esc_delimiter(spark):
    """Bordered ESC delimiter '" "': skip-jump semantics must match the
    cursor through the JVM tier (overlap-hiding after a skipped delim)."""
    plan = plan_map(compile_format('"$a" "$b"'))
    assert plan.esc_aware
    lines = [
        '"x" "y"',
        '"x\\" "skip" "y"',   # first '" "' preceded by backslash → skipped
        '"x\\" " "',          # skip then immediate accept
        '"x" "y" "z"',
    ]
    a, h = hybrid_and_oracle(spark, plan, lines)
    assert a == h


def test_hybrid_equals_oracle_randomized(spark):
    """Randomized differential THROUGH real Spark plans: the JVM fast path
    (incl. the skip-aware pattern and regexp_replace unescape) vs the
    oracle on adversarial alphabets. The pattern-level fuzz in
    test_parse_vectorized.py never executes _jvm_parts — this does."""
    import random

    random.seed(20260816)
    alpha = list('ab\\"x "-!:n41 \t') + [
        "\\\\", '\\"', "\\x41", "\\x8", "\\xZZ", '" "', "-",
        "\\/", "\\n", "\\u0041", "\\ud83c", "\\udf09", "\\q", '":"',
    ]
    for fmt_str in [
        COMBINED_FMT,
        '"$a" "$b"',
        "${a}xx${b}xx",
        "$a - $b!$c",
        'escape=json;{"$k":"$v"}',
        'escape=json;"$a" "$b"',
        'escape=json;${a}/${b}/',
    ]:
        plan = plan_map(compile_format(fmt_str))
        lines = [
            "".join(random.choice(alpha) for _ in range(random.randint(0, 14)))
            for _ in range(300)
        ]
        a, h = hybrid_and_oracle(spark, plan, lines)
        assert a == h, f"hybrid/oracle divergence for {fmt_str!r}"


def test_hybrid_equals_oracle_random_formats_struct(spark):
    """Random FORMATS x random typed struct bindings through real Spark
    plans — the in-suite randomized fuzz above uses fixed formats in map
    mode; this one also exercises _jvm_cast's typed accept predicates and
    the line_bs short-circuit under random templates. (One-off deep runs:
    140 formats x 201 lines x 2 modes across two seeds, 0 divergences.)"""
    import random

    random.seed(8080)
    lit_chars = list('ab"\\x un0:,-/ ')
    var_names = ["a", "b", "c"]
    types = ["string", "int", "uint", "bool", "byte", "int8", "uint64", "bytes"]
    alpha = list('ab\\"x "-!:n41 \t') + [
        "\\\\", '\\"', "\\x41", "\\x8", "\\xZZ", '" "', "-", "\\/", "\\n",
        "\\u0041", "\\q", '":"', "0", "255", "true", "18446744073709551615",
    ]

    def rand_format():
        esc = random.choice(["", "", "escape=json;", "escape=none;"])
        parts = []
        for _ in range(random.randint(1, 5)):
            if random.random() < 0.55:
                parts.append("$" + random.choice(var_names))
            else:
                parts.append(
                    "".join(random.choice(lit_chars) for _ in range(random.randint(1, 3)))
                )
        return esc + "".join(parts)

    tested = 0
    while tested < 8:
        fs = rand_format()
        try:
            fmt = compile_format(fs)
            bindings = {v: random.choice(types) for v in var_names if random.random() < 0.8}
            plan = plan_struct(fmt, bindings)
        except Exception:
            continue
        lines = [
            "".join(random.choice(alpha) for _ in range(random.randint(0, 14)))
            for _ in range(150)
        ] + [None]
        a, h = hybrid_and_oracle(spark, plan, lines)
        assert a == h, f"hybrid/oracle divergence for {fs!r} bindings={bindings}"
        tested += 1


# name → (format, bindings or None for map mode, regexp_replace count,
# RLIKE count) in the optimized plan. regexp_replace: the one extraction
# plus one simple unescape per bound string field of an escape dialect
# (combined: 6, json: k and v). RLIKE: those fields' simple-escape gates,
# one Go integer syntax check per int field and the json clean-line gate.
_PLAN_SHAPES = {
    "combined": (COMBINED_FMT, ACCESS_BINDINGS, 7, 8),
    "json": ('escape=json;{"$k":"$v"}', None, 3, 3),
    "none": (
        'escape=none;$remote_addr [$time_local] "$request" $status $body_bytes_sent',
        {
            "remote_addr": "string",
            "time_local": "string",
            "request": "string",
            "status": "int",
            "body_bytes_sent": "int",
        },
        1,
        2,
    ),
}


@pytest.mark.parametrize("name", sorted(_PLAN_SHAPES))
def test_hybrid_plan_shape(spark, name):
    """The hybrid parse is fast only while Catalyst evaluates the regex
    extraction and the JVM verdict once per row and the pandas UDF in ONE
    ArrowEvalPython. Catalyst does not CSE: if a materialized column gets
    inlined into its consumers, the regex re-runs per field and the
    regexp_replace count grows (45 instead of 7 for the combined format
    with the parts array inlined). Without the ArrowEvalPython node the
    parse_combined query inlined the regex per field and ran 11× slower."""
    fmt, bindings, n_replace, n_rlike = _PLAN_SHAPES[name]
    ngx = compile_format(fmt)
    plan = plan_map(ngx) if bindings is None else plan_struct(ngx, bindings)
    df = spark.createDataFrame([("a",), ("b\\",)], "text string")
    qe = parse_lines(df, plan)._jdf.queryExecution()
    # never let "... N more fields" truncation hide an expression
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        optimized = qe.optimizedPlan().toString()
        executed = qe.executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert optimized.count("regexp_replace(") == n_replace
    assert optimized.count("RLIKE") == n_rlike
    assert executed.count("ArrowEvalPython") == 1


_OTHER_CWD_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from ngxspark.fmtcompile import compile_format
from ngxspark.parse import parse_lines
from ngxspark.plan import plan_map
from ngxspark.session import get_spark

spark = get_spark(app="other-cwd", cores=1, shuffle_partitions=1)
df = spark.createDataFrame([('"a\\\\x41" 1',)], "text string")
row = parse_lines(df, plan_map(compile_format('"$ua" $n'))).collect()[0]
print("UA=" + row.ua)
spark.stop()
"""


def test_workers_import_package_from_other_cwd(tmp_path):
    """Tail tasks unpickle the parse UDF by module reference, so
    workers must import ngxspark even when the driver runs outside the
    repo. A backslash line forces the row onto the pandas UDF."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_SCRIPT, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UA=aA" in proc.stdout
