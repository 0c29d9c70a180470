"""Compile accept/reject corpus (ported from /root/reference/compile_test.go)."""

import pytest

from ngxspark.escapes import ESC_DEFAULT, ESC_JSON, ESC_NONE
from ngxspark.fmtcompile import (
    COMBINED_FMT,
    OP_ESC_STRING,
    OP_STRING,
    OP_VARIABLE,
    FormatError,
    LogFormat,
    Op,
    compile_format,
)
from ngxspark.plan import plan_map, plan_struct
from tests.fixtures import NEGATIVE_FORMATS, POSITIVE_FORMATS


@pytest.mark.parametrize("fmt", POSITIVE_FORMATS)
def test_positive_formats_compile(fmt):
    compile_format(fmt)


@pytest.mark.parametrize("fmt", NEGATIVE_FORMATS)
def test_negative_formats_reject(fmt):
    with pytest.raises(FormatError):
        compile_format(fmt)


def test_combined_supported_map():
    """supported maps var → op index (compile.go:139); combined has 8 vars at even indices."""
    ngx = compile_format(COMBINED_FMT)
    assert ngx.supported == {
        "remote_addr": 0,
        "remote_user": 2,
        "time_local": 4,
        "request": 6,
        "status": 8,
        "body_bytes_sent": 10,
        "http_referer": 12,
        "http_user_agent": 14,
    }
    assert ngx.esc == ESC_DEFAULT


def test_escape_prefix_dialects():
    assert compile_format("escape=json;$a").esc == ESC_JSON
    assert compile_format("escape=none;$a").esc == ESC_NONE
    assert compile_format("escape=default;$a").esc == ESC_DEFAULT
    assert compile_format("escape=json \r\n\t\v\f;$a").esc == ESC_JSON


def test_dollar_dollar_literal():
    ngx = compile_format("$$")
    assert len(ngx.ops) == 1
    assert ngx.ops[0].type == OP_STRING
    assert ngx.ops[0].extra == b"$"


def test_adjacent_variable_dedup():
    """compile.go:135-138: a var immediately after another var is dropped."""
    ngx = compile_format("$a$b")
    assert [op.type for op in ngx.ops] == [OP_VARIABLE]
    assert ngx.supported == {"a": 0}


def test_plan_rejects_adjacent_variables():
    """compile_format never emits a variable right after another one, but
    a hand-built LogFormat can: both plan builders refuse it up front with
    the reference's message."""
    fmt = LogFormat(
        ops=(Op(OP_VARIABLE, b"a"), Op(OP_VARIABLE, b"b"), Op(OP_STRING, b";")),
        esc=ESC_DEFAULT,
        supported={"a": 0, "b": 1},
    )
    with pytest.raises(ValueError, match="does not support '\\$a\\$b' style format"):
        plan_struct(fmt, {"a": "string"})  # first variable bound
    with pytest.raises(ValueError, match="does not support"):
        plan_struct(fmt, {"b": "string"})  # first variable unbound
    with pytest.raises(ValueError, match="does not support"):
        plan_map(fmt)


def test_duplicate_variable_last_index_wins():
    ngx = compile_format("$v-$v")
    assert ngx.supported == {"v": 2}
    assert [op.type for op in ngx.ops] == [OP_VARIABLE, OP_STRING, OP_VARIABLE]


def test_esc_string_classification():
    """Literal starting with an escape-relevant byte → ESC_STRING (compile.go:87)."""
    ngx = compile_format('$a"x')  # default dialect: '"' is escape-relevant
    assert ngx.ops[1].type == OP_ESC_STRING
    ngx = compile_format("$a x")  # ' ' is not
    assert ngx.ops[1].type == OP_STRING
    # 'x' is escape-relevant in default (for \xHH) but not in json
    assert compile_format("${a}xyz").ops[1].type == OP_ESC_STRING
    assert compile_format("escape=json;${a}xyz").ops[1].type == OP_STRING
    # 'n' is escape-relevant in json but not default
    assert compile_format("escape=json;${a}n!").ops[1].type == OP_ESC_STRING
    assert compile_format("${a}n!").ops[1].type == OP_STRING


def test_bare_trailing_dollar_rejected():
    with pytest.raises(FormatError):
        compile_format("abc$")


def test_unclosed_bracket_message():
    with pytest.raises(FormatError, match="closing bracket"):
        compile_format("${abc")
