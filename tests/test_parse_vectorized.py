"""Differential tests: the pattern the JVM tier runs ≡ the pure-Python oracle.

``pattern_decode`` is the Python twin of the JVM tier: ``re.match`` of
``plan.pattern`` (the Java pattern minus group names), the dialect
unescape of every bound group in op order, and the Go cast. On every line
the tier trusts the pattern with, it must agree with the oracle on every
fixture line AND on adversarial generated lines containing backslashes,
quotes, unicode, and delimiter collisions. The same tests also run the UDF
body (``make_parse_fn``) over each batch, which pins NULL handling, Go zero
values and whole-row rejects.
"""

import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ngxspark.escapes import ESC_NONE, EscapeError, unescape_default, unescape_json
from ngxspark.fmtcompile import COMBINED_FMT, OP_BIND, compile_format
from ngxspark.oracle import DecodeError, _decode, decode_map, decode_struct, decode_typed, go_quote
from ngxspark.parse import _JSON_CLEAN_RX, make_parse_fn
from ngxspark.plan import plan_map, plan_struct
from tests.fixtures import (
    ACCESS_BINDINGS,
    DECODE_REJECTS,
    POSITIVE_MAP,
    POSITIVE_STRUCT,
)

MISS = "pattern miss"


def pattern_decode(plan, line: str):
    """The JVM tier's reading of ``line``: None when the tier does not
    trust the pattern with it (a backslash line the pattern is not exact
    for — parse._jvm_parts sends those to the oracle), MISS when the
    pattern does not match, else ``(values, None)`` or ``(None, error)``
    shaped like the oracle's result."""
    if plan.fmt.esc != ESC_NONE and "\\" in line and not plan.esc_aware:
        if not (plan.esc_aware_clean and re.fullmatch(_JSON_CLEAN_RX, line)):
            return None
    m = re.match(plan.pattern, line)
    if m is None:
        return MISS
    kernel = None
    if plan.esc_aware:
        kernel = unescape_default
    elif plan.esc_aware_clean:
        kernel = unescape_json
    binds = [op for op in plan.ops if op.type == OP_BIND]
    values = {}
    # op order: the first failing occurrence sets the error, and a
    # duplicate map-mode name keeps its last value (codec_map.go:186-191)
    for op, (gname, fname) in zip(binds, plan.bind_groups):
        raw = m.group(gname).encode("utf-8", "surrogateescape")
        try:
            raw = kernel(raw) if kernel else raw
            values[fname] = decode_typed(op.typ, raw)
        except EscapeError as e:
            return None, str(e)
        except DecodeError as e:
            return None, f"field {go_quote(op.extra)} {e}"
    return values, None


def assert_pattern_matches_oracle(plan, lines) -> int:
    """Assert the pattern agrees with the oracle on every line the JVM
    tier trusts it with; return how many lines it decided."""
    decided = 0
    for line in lines:
        got = pattern_decode(plan, line)
        if got is None:
            continue
        decided += 1
        try:
            want = _decode(plan.ops, plan.fmt.esc, line.encode("utf-8", "surrogateescape")), None
        except DecodeError as e:
            want = None, str(e)
        if got is MISS:
            assert want[0] is None, f"line {line!r}: pattern missed, oracle matched {want[0]}"
        else:
            assert got == want, f"line {line!r}: pattern {got!r} != oracle {want!r}"
    return decided


def run_batch(plan, lines):
    fn = make_parse_fn(plan)
    return fn(pd.Series(lines, dtype="object"))


def oracle_struct_row(fmt, bindings, line: str):
    try:
        got = decode_struct(fmt, bindings, line.encode("utf-8", "surrogateescape"))
    except DecodeError as e:
        return None, str(e)
    return {
        k: (v.decode("utf-8", "replace") if isinstance(v, bytes) else v)
        for k, v in got.items()
    }, None


def oracle_map_row(fmt, line: str):
    try:
        got = decode_map(fmt, line.encode("utf-8", "surrogateescape"))
    except DecodeError as e:
        return None, str(e)
    return {k: v.decode("utf-8", "replace") for k, v in got.items()}, None


def assert_differential_struct(fmt_str, bindings, lines) -> int:
    fmt = compile_format(fmt_str)
    plan = plan_struct(fmt, bindings)
    res = run_batch(plan, lines)
    for i, line in enumerate(lines):
        exp, err = oracle_struct_row(fmt, bindings, line)
        if exp is None:
            assert not res["_matched"][i], f"line {line!r}: UDF matched, oracle rejected ({err})"
            assert res["_error"][i] == err, f"line {line!r}: error mismatch {res['_error'][i]!r} != {err!r}"
        else:
            assert res["_matched"][i], f"line {line!r}: UDF rejected ({res['_error'][i]}), oracle matched"
            for k, v in exp.items():
                assert res[k][i] == v, f"line {line!r} field {k}: {res[k][i]!r} != {v!r}"
    return assert_pattern_matches_oracle(plan, lines)


def assert_differential_map(fmt_str, lines) -> int:
    fmt = compile_format(fmt_str)
    plan = plan_map(fmt)
    res = run_batch(plan, lines)
    for i, line in enumerate(lines):
        exp, err = oracle_map_row(fmt, line)
        if exp is None:
            assert not res["_matched"][i], f"line {line!r}: UDF matched, oracle rejected ({err})"
            assert res["_error"][i] == err
        else:
            assert res["_matched"][i], f"line {line!r}: UDF rejected ({res['_error'][i]})"
            for f in plan.fields:
                got_v = res[f.name][i]
                exp_v = exp.get(f.name)
                assert got_v == exp_v or (got_v is None and exp_v is None), (
                    f"line {line!r} field {f.name}: {got_v!r} != {exp_v!r}"
                )
    return assert_pattern_matches_oracle(plan, lines)


@pytest.mark.parametrize("fmt,data,expected,marshaled", POSITIVE_STRUCT)
def test_struct_fixtures_vectorized(fmt, data, expected, marshaled):
    assert_differential_struct(fmt, ACCESS_BINDINGS, [data])


@pytest.mark.parametrize("fmt,data,expected,marshaled", POSITIVE_MAP)
def test_map_fixtures_vectorized(fmt, data, expected, marshaled):
    assert_differential_map(fmt, [data])


@pytest.mark.parametrize("fmt,bindings,data,err", DECODE_REJECTS)
def test_reject_fixtures_vectorized(fmt, bindings, data, err):
    assert_differential_map(fmt, [data]) if not bindings else assert_differential_struct(
        fmt, bindings, [data]
    )


def test_mixed_batch_clean_escaped_reject_and_null():
    """One batch mixing a clean line, a backslash line, reject lines and a
    NULL: the UDF's output shape (NULL text, whole-row reject)."""
    lines = [
        '9.9.9.9 - bob [16/Aug/2026:00:00:00 +0000] "GET / HTTP/1.1" 200 12 "-" "ua"',
        '9.9.9.9 - bob [t] "GET / HTTP/1.1" 200 12 "-" "Agent \\"X\\""',  # escaped
        "total junk",
        None,
        '9.9.9.9 - bob [t] "GET / HTTP/1.1" abc 12 "-" "ua"',  # cast reject
    ]
    fmt = compile_format(COMBINED_FMT)
    plan = plan_struct(fmt, ACCESS_BINDINGS)
    res = run_batch(plan, lines)
    assert list(res["_matched"]) == [True, True, False, False, False]
    assert res["status"][0] == 200
    assert res["http_user_agent"][1] == 'Agent "X"'
    assert res["_error"][3] == "null text"
    assert 'strconv.ParseInt: parsing "abc"' in res["_error"][4]
    # whole-row reject nulls every field
    assert res["status"][4] is None and res["remote_addr"][4] is None
    # differential against the oracle for non-null rows
    assert_differential_struct(COMBINED_FMT, ACCESS_BINDINGS, [l for l in lines if l])


def test_int_edge_values_vectorized():
    fmt_str = "v=$v;"
    for typ, ok_vals, bad_vals in [
        ("int", ["0", "-9223372036854775808", "9223372036854775807", "+5"],
         ["9223372036854775808", "1_0", " 5", "0x1", ""]),
        ("int32", ["2147483647", "-2147483648"], ["2147483648", "-2147483649"]),
        ("uint64", ["18446744073709551615"], ["-1", "+1", "18446744073709551616"]),
        ("int8", ["127", "-128"], ["128", "abc"]),
    ]:
        lines = [f"v={v};" for v in ok_vals + bad_vals]
        fmt = compile_format(fmt_str)
        plan = plan_struct(fmt, {"v": typ})
        res = run_batch(plan, lines)
        for i, v in enumerate(ok_vals):
            assert res["_matched"][i], f"{typ} {v}: {res['_error'][i]}"
            # uint/uint64 surface as Decimal(20,0) (full Go range); == int ok
            assert res["v"][i] == int(v)
        for j in range(len(ok_vals), len(lines)):
            assert not res["_matched"][j], f"{typ} {lines[j]}: should reject"
        # messages must match the oracle exactly
        assert_differential_struct(fmt_str, {"v": typ}, lines)


def test_bool_and_byte_vectorized():
    assert_differential_struct("v=$v;", {"v": "bool"}, ["v=true;", "v=TRUE;", "v=1;", "v=;"])
    assert_differential_struct("v=$v;", {"v": "byte"}, ["v=a;", "v=ab;", "v=;", "v=é;"])


def test_zero_group_format():
    """All-literal format: matched iff prefix matches; no fields."""
    fmt = compile_format("hello")
    plan = plan_map(fmt)
    res = run_batch(plan, ["hello", "hello world", "nope"])
    assert list(res["_matched"]) == [True, True, False]


def test_empty_format_matches_everything():
    plan = plan_map(compile_format(""))
    res = run_batch(plan, ["anything", ""])
    assert list(res["_matched"]) == [True, True]


def test_no_backtracking_after_accepted_delimiter():
    """fmt '$a:$b!' on 'x:y:z' — the reference accepts the FIRST ':' then
    errors if '!' is missing after; a backtracking regex would retry the
    second ':'. Atomic groups must forbid that."""
    fmt_str = "$a:$b!"
    lines = ["x:y!z", "x:y:z!", "x:yz"]
    fmt = compile_format(fmt_str)
    # oracle: line 2 parses a='x', b='y:z'? NO — first ':' accepted, b='y:z' ends at '!' → b='y:z'
    assert decode_map(fmt, b"x:y:z!") == {"a": b"x", "b": b"y:z"}
    assert_differential_map(fmt_str, lines)


# --- hypothesis adversarial differential ---------------------------------

_CHARS = st.sampled_from(list('ab\\"xn \tu0019é🌉$') + ["\\\\", '\\"', "\\x41", "\\u0041"])
_LINE = st.lists(_CHARS, min_size=0, max_size=24).map("".join)

_FORMATS = [
    COMBINED_FMT,
    '\\$a\\"$b\\"\\"$c\\"',
    'escape=json;{"$k":"$v"}',
    "escape=json;$a\\n$b",
    "escape=none;$a\\$b\\",
    "$a - $b - $c",
    "${a}x41${b}x",        # default dialect: literal starting with 'x' is ESC_STRING
    "escape=json;${a}u00${b}u",  # json dialect: literal starting with 'u' is ESC_STRING
    "escape=json;${a}/${b}/",    # json: '/' is escape-relevant
    "$a:$b!$c",
    "x$a x$b x",
]


@pytest.mark.parametrize("fmt_str", _FORMATS)
@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_hypothesis_differential(fmt_str, data):
    lines = data.draw(st.lists(_LINE, min_size=1, max_size=8))
    assert_differential_map(fmt_str, lines)


def test_anchored_at_start_not_search():
    """Pattern must anchor at position 0: a format starting with a literal
    must NOT match that literal mid-string (codec_struct.go:72 starts at
    p=0; Spark's regexp_replace searches, so the plan carries \\A)."""
    lines = ["zx1 x2 x", "x1 x2 x", "ax"]
    fmt_str = "x$a x$b x"
    assert_differential_map(fmt_str, lines)
    plan = plan_map(compile_format(fmt_str))
    assert re.search(plan.pattern, lines[0]) is None
    assert [pattern_decode(plan, line) is MISS for line in lines] == [True, False, True]


def test_escaped_default_rows_never_hit_oracle():
    """escape=default rows with backslashes are decided by the skip-aware
    pattern on the JVM tier, \\xHH values and unescape errors included:
    none of them is left to the oracle tail."""
    lines = [
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "A \\"q\\" \\\\ \\x41"',
        '1.2.3.4 - u [t] "GET /\\"x HTTP/1.1" 200 7 "-" "ua"',
        '1.2.3.4 - u [t] "GET / HTTP/1.1" 200 7 "-" "bad \\n esc"',
    ]
    plan = plan_struct(compile_format(COMBINED_FMT), ACCESS_BINDINGS)
    assert plan.esc_aware
    assert assert_differential_struct(COMBINED_FMT, ACCESS_BINDINGS, lines) == 3
    assert [pattern_decode(plan, line)[0] is not None for line in lines] == [True, True, False]
    res = run_batch(plan, lines)
    assert list(res["_matched"]) == [True, True, False]
    assert res["http_user_agent"][0] == 'A "q" \\ A'
    assert res["_error"][2] == "found unknown escape format '\\n'"


def test_json_backslash_rows_oracle_only_when_dirty():
    """escape=json: the escape-atom parity pattern decides CLEAN backslash
    rows (valid escapes); only DIRTY rows (malformed escapes) replay the
    oracle cursor."""
    fmt_str = 'escape=json;{"$k":"$v"}'
    plan = plan_map(compile_format(fmt_str))
    assert not plan.esc_aware and plan.esc_aware_clean
    lines = [
        '{"a":"b"}',
        '{"a\\"x":"b"}',          # clean: \" escape
        '{"x":"\\ud83c\\udf09"}', # clean: surrogate pair
        '{"a\\qz":"b"}',          # dirty: \q invalid
    ]
    assert assert_differential_map(fmt_str, lines) == 3
    assert pattern_decode(plan, lines[3]) is None
    res = run_batch(plan, lines)
    assert list(res["_matched"]) == [True, True, True, False]
    assert res["k"][1] == 'a"x'
    assert res["v"][2] == "🌉"


def test_json_delim_with_backslash_disables_clean_path():
    """A json ESC delimiter containing a backslash (template '\\n' literal)
    cannot use the escape-atom pattern: every backslash row replays the
    oracle."""
    fmt_str = "escape=json;$a\\n$b"
    plan = plan_map(compile_format(fmt_str))
    assert not plan.esc_aware and not plan.esc_aware_clean
    assert pattern_decode(plan, "x\\ny") is None
    # 'plain' lacks the delimiter: the pattern misses and the oracle gives
    # the exact EOF error
    assert pattern_decode(plan, "plain") is MISS
    assert assert_differential_map(fmt_str, ["x\\ny", "plain"]) == 1
    assert run_batch(plan, ["x\\ny"])["_matched"][0]


def test_map_duplicate_name_validates_every_occurrence():
    """Map-mode duplicate variable names bind MULTIPLE ops; the reference
    unescape-validates each occurrence left-to-right (first failure sets
    the row error) even though only the LAST value survives
    (codec_map.go:186-191). Found by random-format fuzzing in round 2:
    the pandas decoder of that time validated only the final group."""
    fmt_str = "$c$c:$c"  # adjacent dedup → [bind c][':'][bind c]
    lines = [
        "a:b",              # both segments clean → c = 'b'
        "x\\n:ok",          # FIRST segment has invalid escape → reject
        "ok:\\q",           # LAST segment invalid → reject (same error path)
        "a\\\\b:z",         # first segment valid escape → c = 'z'
    ]
    assert_differential_map(fmt_str, lines)
    plan = plan_map(compile_format(fmt_str))
    res = run_batch(plan, lines)
    assert list(res["_matched"]) == [True, False, False, True]
    assert res["c"][0] == "b" and res["c"][3] == "z"
    assert res["_error"][1] == "found unknown escape format '\\n'"


def test_random_format_differential():
    """Format-level fuzz: RANDOM templates (random literals incl.
    escape-classified ones, duplicate/adjacent variables, all dialects) ×
    adversarial lines, pattern vs oracle. This is the net that caught
    the duplicate-name validation bug."""
    import random

    random.seed(424242)
    lit_chars = list('ab"\\x un0:,-/ ')
    var_names = ["a", "b", "c"]

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

    alpha = list('ab"\\x un0:,-/ ') + [
        "\\\\", '\\"', "\\x41", "\\x8", "\\n", "\\u0041", "\\q", "\\/",
    ]
    tested = decided = 0
    while tested < 40:
        fs = rand_format()
        try:
            compile_format(fs)
        except Exception:
            continue
        tested += 1
        lines = [
            "".join(random.choice(alpha) for _ in range(random.randint(0, 12)))
            for _ in range(120)
        ]
        decided += assert_differential_map(fs, lines)
    # the pattern, not just the oracle, must have been exercised
    assert decided > 40 * 120 // 2
