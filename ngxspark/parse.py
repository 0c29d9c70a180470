"""Vectorized Spark parse stage — two engines, bit-identical results.

``parse_lines(df, plan)`` appends the plan's typed field columns plus
``_matched: boolean`` and ``_error: string``.

engine="hybrid" (default, ~3-4× faster end-to-end):
  * JVM fast path: ONE Java-regex evaluation per row — the anchored
    possessive/atomic pattern is applied via ``regexp_replace`` emitting
    every capture group joined by a sentinel, then split (see
    ``_parts_expr``); typed casts replicate Go strconv via try_cast +
    syntax rlike, CONSERVATIVE-EXACT (any anomaly falls through). For
    ``escape=default`` plans the pattern is backslash-retry-exact for ALL
    rows (plan.py ``esc_aware``); for ``escape=json`` it is exact for
    CLEAN rows (every backslash a valid escape — one rlike gate,
    ``esc_aware_clean``). Bound string values carrying only 1-char
    escapes (``\\\\`` ``\\"`` and json ``\\/``) unescape with one
    ``regexp_replace`` (single left-to-right pass — identical to the
    reference kernel on that alphabet). Whole-stage codegen, zero Python.
  * Arrow slow path for the tail: regex misses, cast anomalies,
    ``\\xHH``/``\\uXXXX``/named-escape values and escaped typed binds
    (exact unescape kernels), dirty json rows and duplicate-bind
    backslash rows (oracle replay), null text. The pandas UDF is still
    evaluated over EVERY row: a fast row crosses the Arrow boundary as a
    NULL input and comes back as a NULL-field struct carrying a
    ``"null text"`` error, which the JVM verdict then discards. On the
    default transcript mix only ~3.5% of the rows that cross need Python,
    and ~62 B per row crosses the boundary; keeping fast rows out of
    Python was measured slower (BENCH/BASELINE.md, "Rejected by
    measurement").

engine="arrow": every row goes through the Arrow-batched pandas UDF —
  per batch, ``Series.str.extract`` with the same anchored pattern
  (provably equivalent to the reference scanner — see plan.py) +
  vectorized Go-semantics casts; bound values containing a backslash run
  the exact dialect unescape kernel value-at-a-time (values WITHOUT a
  backslash — the vast majority — skip it). Only dirty-json backslash
  rows and regex misses run the pure-Python oracle interpreter, which
  also supplies the reference's exact error strings everywhere.

Whole-row reject (SURVEY.md §2.3.7): any cast/unescape failure nulls every
field and sets ``_matched=false`` with the reference-format ``_error``.

At 100 TB scale this stage is embarrassingly parallel: no shuffle, no
driver involvement, plan broadcast via the UDF closure; the hybrid engine
keeps ~97% of rows entirely inside whole-stage codegen.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ngxspark.escapes import ESC_NONE, EscapeError, unescape_default, unescape_json
from ngxspark.oracle import DecodeError, _decode, go_quote, zero_value
from ngxspark.plan import MATCH_GROUP, FieldSpec, ParsePlan

# ngx type → Spark SQL type. Unsigned widths widen to the next signed type;
# uint/uint64 map to decimal(20,0) — the only exact Spark type that holds
# the full Go uint64 range.
_SPARK_TYPES = {
    "string": T.StringType(),
    "bytes": T.StringType(),
    "bool": T.BooleanType(),
    "byte": T.ShortType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int": T.LongType(),
    "int64": T.LongType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint": T.DecimalType(20, 0),
    "uint64": T.DecimalType(20, 0),
}

_INT_RANGES = {
    "int8": (-(1 << 7), (1 << 7) - 1, "ParseInt"),
    "int16": (-(1 << 15), (1 << 15) - 1, "ParseInt"),
    "int32": (-(1 << 31), (1 << 31) - 1, "ParseInt"),
    "int": (-(1 << 63), (1 << 63) - 1, "ParseInt"),
    "int64": (-(1 << 63), (1 << 63) - 1, "ParseInt"),
    "uint16": (0, (1 << 16) - 1, "ParseUint"),
    "uint32": (0, (1 << 32) - 1, "ParseUint"),
    "uint": (0, (1 << 64) - 1, "ParseUint"),
    "uint64": (0, (1 << 64) - 1, "ParseUint"),
}

MATCHED_COL = "_matched"

# Tail-share instrumentation (SPARK_GRAFT_PARSE_METRICS=1): each hybrid
# parse_lines call appends (struct_col, Observation); after an action,
# obs.get gives {"rows": total, "arrow_rows": rows routed to the pandas
# UDF}. Off by default so production plans carry no CollectMetrics node.
PARSE_TIER_OBS: list = []
ERROR_COL = "_error"


def take_parse_tier_obs() -> list:
    """Snapshot-and-clear PARSE_TIER_OBS. Consumers should drain through
    this (as bench.py does) — the list is process-global and would grow
    unboundedly in a long-lived metrics-on session otherwise. Counts are
    per plan execution, so an action that re-runs the plan (a global
    sort) counts rows more than once."""
    out = PARSE_TIER_OBS[:]
    PARSE_TIER_OBS.clear()
    return out


def output_schema(plan: ParsePlan) -> T.StructType:
    # unsupported-typed fields absent from the format (legal — see
    # plan_struct) surface as always-NULL string columns
    fields = [
        T.StructField(f.name, _SPARK_TYPES.get(f.typ, T.StringType()), True)
        for f in plan.fields
    ]
    fields.append(T.StructField(MATCHED_COL, T.BooleanType(), False))
    fields.append(T.StructField(ERROR_COL, T.StringType(), True))
    return T.StructType(fields)


def _cast_int_fast(
    vals: pd.Series, spec: FieldSpec, matched: pd.Series, errors: pd.Series
) -> pd.Series:
    """Vectorized strconv.ParseInt/ParseUint over already-extracted strings.

    Returns an object Series of Python ints (None where failed); updates
    ``matched``/``errors`` in place for failing rows.
    """
    lo, hi, fn = _INT_RANGES[spec.typ]
    idx = vals.index
    signed = fn == "ParseInt"
    body = vals.str.replace(r"^[+-]", "", regex=True) if signed else vals
    ok_syntax = body.str.fullmatch(r"[0-9]+").eq(True)

    out = pd.Series(np.full(len(vals), None, dtype=object), index=idx)
    # ≤15 digits → exact through float64; longer (rare) → exact Python int
    short = ok_syntax & (body.str.len() <= 15)
    long_ = ok_syntax & ~short
    if short.any():
        out.loc[short] = pd.to_numeric(vals[short]).astype("int64").astype(object)
    if long_.any():
        out.loc[long_] = vals[long_].map(int)

    in_range = ok_syntax.copy()
    if ok_syntax.any():
        bad_range = out[ok_syntax].map(lambda v: v < lo or v > hi)
        in_range.loc[ok_syntax] = ~bad_range.to_numpy(dtype=bool)
        out.loc[~in_range] = None

    bad = ~(ok_syntax & in_range)
    if bad.any():
        bad_idx = idx[bad]
        reason = pd.Series(
            np.where(ok_syntax[bad], "value out of range", "invalid syntax"),
            index=bad_idx,
        )
        quoted = vals[bad].map(go_quote)
        if spec.typ == "int8":  # codec.go:87-97 wraps the strconv error
            msg = "field " + go_quote(spec.var) + " expected int8, got " + quoted
        else:
            msg = (
                "field " + go_quote(spec.var)
                + f" strconv.{fn}: parsing "
                + quoted + ": " + reason
            )
        matched.loc[bad_idx] = False
        need = errors.loc[bad_idx].isna()
        errors.loc[bad_idx[need]] = msg[need]
    return out


def _cast_fast(
    vals: pd.Series, spec: FieldSpec, matched: pd.Series, errors: pd.Series
) -> pd.Series:
    if spec.typ in ("string", "bytes"):
        return vals
    if spec.typ == "bool":
        return vals.str.lower() == "true"
    if spec.typ in ("uint", "uint64"):
        from decimal import Decimal

        ints = _cast_int_fast(vals, spec, matched, errors)
        return ints.map(lambda v: Decimal(v) if v is not None else None)
    if spec.typ == "byte":
        # surrogateescape round-trips bytes produced by \xHH unescapes
        raw = vals.map(
            lambda s: s.encode("utf-8", "surrogateescape") if isinstance(s, str) else b""
        )
        ok = raw.map(len) == 1
        out = pd.Series(np.full(len(vals), None, dtype=object), index=vals.index)
        if ok.any():
            out.loc[ok] = raw[ok].map(lambda b: b[0])
        if (~ok).any():
            bad_idx = vals.index[~ok]
            msg = "field " + go_quote(spec.var) + " expected byte, got " + vals[~ok].map(go_quote)
            matched.loc[bad_idx] = False
            need = errors.loc[bad_idx].isna()
            errors.loc[bad_idx[need]] = msg[need]
        return out
    return _cast_int_fast(vals, spec, matched, errors)


def _unescape_fast(
    vals: pd.Series, spec: FieldSpec, matched: pd.Series, errors: pd.Series, kernel
) -> pd.Series:
    """Dialect unescape of extracted raw segments (esc_aware[_clean] plans).

    Values without a backslash (the vast majority) pass through untouched;
    the rest run the exact kernel (``unescape_default`` /
    ``unescape_json``, escape.go:134-316), so error strings match the
    oracle byte-for-byte. Failing rows are whole-row rejects: dropped from
    the returned Series (caller skips the cast), ``matched``/``errors``
    updated with first-error-wins.

    Decode policy mirrors the oracle path: string/bytes fields surface as
    UTF-8 with U+FFFD for invalid bytes (``_py_value``); other types keep
    surrogateescape so cast error messages quote the original bytes.
    """
    has = vals.str.contains("\\", regex=False).eq(True)
    if not has.any():
        return vals
    vals = vals.copy()
    is_str = spec.typ in ("string", "bytes")
    drop = []
    for i in vals.index[has]:
        try:
            raw = kernel(vals[i].encode("utf-8", "surrogateescape"))
        except EscapeError as e:
            matched[i] = False
            if errors[i] is None:
                errors[i] = str(e)
            drop.append(i)
            continue
        vals[i] = raw.decode("utf-8", "replace" if is_str else "surrogateescape")
    if drop:
        vals = vals.drop(index=drop)
    return vals


# a CLEAN json line: every backslash starts a valid json escape. On clean
# lines the esc_aware_clean pattern is exact (see plan.py); dirty lines
# replay the oracle cursor. Same pattern text is valid Java regex.
_JSON_CLEAN_RX = r'(?:[^\\]|\\["\\/bfnrt]|\\u[0-9a-fA-F]{4})*'
_JSON_CLEAN_JAVA = r"\A" + _JSON_CLEAN_RX + r"\z"


def _py_value(spec: FieldSpec, v):
    """Oracle value → Spark-facing value (bytes → str; uint64 → Decimal)."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if spec.typ in ("uint", "uint64") and isinstance(v, int):
        from decimal import Decimal

        return Decimal(v)
    return v


def _oracle_row(plan: ParsePlan, line: str) -> tuple[dict, bool, str | None]:
    try:
        got = _decode(plan.ops, plan.fmt.esc, line.encode("utf-8", "surrogateescape"))
    except DecodeError as e:
        return {}, False, str(e)
    return got, True, None


def make_parse_fn(plan: ParsePlan):
    """Build the per-batch pandas function (exposed for differential tests)."""
    field_specs = plan.fields
    esc = plan.fmt.esc
    esc_aware = plan.esc_aware
    esc_clean = plan.esc_aware_clean
    unescape_kernel = unescape_json if esc_clean else unescape_default
    pattern = plan.pattern
    always_error = plan.always_error
    # every BIND op in OP ORDER: map-mode duplicate names bind multiple
    # ops, and the reference unescape-validates EACH occurrence (and the
    # first failure, left-to-right, sets the row error) even though only
    # the last value survives (codec_map.go:186-191)
    bind_order = plan.bind_groups
    final_spec = {f.group: f for f in field_specs if f.group is not None}

    def parse_batch(s: pd.Series) -> pd.DataFrame:
        import re as _re

        n = len(s)
        idx = s.index
        out = {
            f.name: pd.Series(np.full(n, None, dtype=object), index=idx)
            for f in field_specs
        }
        matched = pd.Series(np.zeros(n, dtype=bool), index=idx)
        errors = pd.Series(np.full(n, None, dtype=object), index=idx)

        notnull = s.notna()
        if not notnull.all():
            errors[~notnull] = "null text"

        if always_error is not None:
            errors[notnull] = always_error
        else:
            if esc == ESC_NONE or esc_aware:
                # escape=none: backslashes are plain bytes; escape=default:
                # the pattern emulates the retry rule (plan.esc_aware)
                fast = notnull
            elif esc_clean:
                # escape=json: the pattern is exact for CLEAN lines; dirty
                # backslash rows (malformed escapes) replay the oracle
                has_bs = s.str.contains("\\", regex=False).eq(True)
                clean = s.str.fullmatch(_JSON_CLEAN_RX).eq(True)
                fast = notnull & (~has_bs | clean)
            else:
                # unsafe delimiter set: backslash rows replay the oracle
                fast = notnull & ~s.str.contains("\\", regex=False).eq(True)
            slow = notnull & ~fast

            if fast.any():
                rx = _re.compile(pattern)
                ext = s[fast].str.extract(rx)
                hit = ext[MATCH_GROUP].notna()
                hit_idx = ext.index[hit]
                matched[hit_idx] = True
                # Go zero values for fields with no regex group (unbound
                # vars / vars not in the format) on successful rows:
                for f in field_specs:
                    if f.group is None:
                        if f.typ in ("string", "bytes"):
                            out[f.name].loc[hit_idx] = ""
                        elif f.typ == "bool":
                            out[f.name].loc[hit_idx] = False
                        elif f.typ in _SPARK_TYPES:
                            out[f.name].loc[hit_idx] = 0
                        # unsupported type: stays NULL (Go zero of an
                        # arbitrary type is unrepresentable)
                # Unescape-then-cast runs in op order so the FIRST failing
                # occurrence (as the reference's left-to-right scan sees
                # it) sets _error; earlier duplicate-name occurrences are
                # validated but their values are overwritten by the last:
                for gname, fname in bind_order:
                    vals = ext.loc[hit_idx, gname]
                    spec = final_spec.get(gname)
                    if esc_aware or esc_clean:
                        vspec = spec or FieldSpec(fname, fname.encode("utf-8"), "string", gname)
                        vals = _unescape_fast(vals, vspec, matched, errors, unescape_kernel)
                    if spec is not None:
                        out[spec.name].loc[vals.index] = _cast_fast(vals, spec, matched, errors)
                # regex misses → oracle for the exact reference error
                miss_idx = ext.index[~hit]
                if len(miss_idx):
                    slow = slow.copy()
                    slow[miss_idx] = True

            slow_idx = idx[slow]
            for i in slow_idx:
                got, ok, err = _oracle_row(plan, s[i])
                matched[i] = ok
                errors[i] = err
                if ok:
                    for f in field_specs:
                        if plan.mode == "map":
                            v = got.get(f.name)
                        else:
                            v = got.get(f.name)
                            if v is None:
                                v = zero_value(f.typ)
                        out[f.name][i] = _py_value(f, v)

        data = {}
        for f in field_specs:
            col = out[f.name]
            # whole-row reject nulls every field (only touch set positions)
            bad = (~matched) & col.notna()
            if bad.any():
                col[bad] = None
            data[f.name] = col
        data[MATCHED_COL] = matched
        data[ERROR_COL] = errors
        return pd.DataFrame(data, index=idx)

    return parse_batch


def make_parse_udf(plan: ParsePlan):
    """Build the Arrow-batched pandas UDF for a compiled plan.

    Marked non-deterministic on purpose (it IS deterministic): this stops
    Catalyst from duplicating the expensive UDF when a filter on its
    output (e.g. `_matched`) is pushed below an Exchange — otherwise the
    plan grows a second ArrowEvalPython evaluating the whole parse on the
    pre-shuffle partitioning.
    """
    return pandas_udf(make_parse_fn(plan), returnType=output_schema(plan)).asNondeterministic()


_GO_INT_RX = r"\A[+-]?[0-9]+\z"
_GO_UINT_RX = r"\A[0-9]+\z"

# values whose only escapes map 1 escaped char → 1 literal char — exactly
# the alphabet where one left-to-right regexp_replace pass IS the dialect
# unescape kernel (escape.go:134-179 / 229-316). default: \\ \" ;
# json: \\ \" \/ .
_SIMPLE_ESC_RX = {
    "default": r'\A(?:[^\\]|\\["\\])*\z',
    "json": r'\A(?:[^\\]|\\["\\/])*\z',
}
_SIMPLE_UNESC_PAT = {
    "default": r'\\(["\\])',
    "json": r'\\(["\\/])',
}


def _jvm_unescape(
    raw: Column, typ: str, dialect: str, line_bs: Column | None = None
) -> tuple[Column, Column]:
    """(unescaped value, accept) for esc_aware[_clean] plans, JVM
    expressions only.

    Values without a backslash pass through; simple-escape-only string
    values unescape with one regexp_replace (Java replace scans
    left-to-right non-overlapping — byte-identical to the reference
    kernel on that alphabet); typed binds with any backslash, and every
    other escape, fall through to the Arrow tier's exact kernel. Keep
    this expression SMALL: it sits once per bound field inside the
    whole-stage-codegen'd parse projection, and widening it measurably
    regresses every parse query (r5 interleaved A/B: +25-30% on
    route_sinks/multi_format_route with a tokenizing hex/unicode kernel
    here — ArrayTransform is CodegenFallback and the extra branches
    bloat the generated method).

    ``line_bs`` (a MATERIALIZED line-has-backslash flag) short-circuits the
    per-field contains() scans: a bound value is a substring of the line,
    so a backslash-free line implies backslash-free values — on clean
    corpora every per-field escape check collapses to one boolean ref.
    """
    has = raw.contains("\\") if line_bs is None else (line_bs & raw.contains("\\"))
    if typ in ("string", "bytes"):
        value = F.when(
            has, F.regexp_replace(raw, _SIMPLE_UNESC_PAT[dialect], "$1")
        ).otherwise(raw)
        return value, ~has | raw.rlike(_SIMPLE_ESC_RX[dialect])
    return raw, ~has


def _jvm_cast(raw: Column, typ: str) -> tuple[Column, Column]:
    """(typed value, accept) with Go strconv semantics, JVM expressions only.

    CONSERVATIVE-EXACT: accept=true only when the oracle would produce
    exactly this value; every other row falls through to the oracle path.
    """
    if typ in ("string", "bytes"):
        return raw, F.lit(True)
    if typ == "bool":
        return F.lower(raw) == "true", F.lit(True)
    if typ == "byte":
        ok = F.octet_length(raw) == 1
        return F.ascii(raw).cast("short"), ok
    if typ in ("uint", "uint64"):
        from decimal import Decimal

        v = raw.try_cast("decimal(20,0)")
        ok = raw.rlike(_GO_UINT_RX) & v.isNotNull() & (v <= F.lit(Decimal(2**64 - 1)))
        return v, ok
    signed = typ in ("int", "int8", "int16", "int32", "int64")
    v = raw.try_cast("long")
    ok = raw.rlike(_GO_INT_RX if signed else _GO_UINT_RX) & v.isNotNull()
    bits = {"int8": 8, "int16": 16, "int32": 32, "uint16": 16, "uint32": 32}.get(typ)
    if bits is not None:
        lo = -(1 << (bits - 1)) if signed else 0
        hi = (1 << (bits - 1)) - 1 if signed else (1 << bits) - 1
        ok = ok & v.between(lo, hi)
    target = _SPARK_TYPES[typ].simpleString()
    return v.cast(target), ok


_SEP = "\x01"  # group separator for the single-eval extraction trick


def _parts_expr(plan: ParsePlan, col: Column) -> Column:
    """ONE regex evaluation per row: ``regexp_replace`` the (\\A-anchored,
    so at-most-one) match with all capture groups joined by a \\x01
    sentinel, then split. ``regexp_extract`` per field would re-run the
    full pattern N times — and Catalyst's subexpression elimination does
    NOT merge them, so this column MUST be materialized once via
    ``withColumn`` (CollapseProject keeps non-cheap aliases referenced
    many times as their own projection). An unmatched row comes back
    unreplaced → a 1-element array → miss.
    """
    jpat, groups = plan.java_pattern()
    ordered = sorted(groups.items(), key=lambda kv: kv[1])
    if not ordered:
        return F.when(col.rlike(jpat), F.array(F.lit("")))
    replacement = _SEP.join(f"${i}" for _, i in ordered) + _SEP
    return F.split(F.regexp_replace(col, jpat, replacement), _SEP)


def _jvm_parts(
    plan: ParsePlan,
    col: Column,
    parts: Column,
    line_bs: Column | None = None,
):
    """(jvm_ok, values) — fast-path acceptance predicate + typed field
    values over the materialized ``parts`` array. Rows whose text contains
    \\x01 (never, in real logs) are excluded from the fast path rather
    than risking a wrong split. ``line_bs`` is the materialized
    line-has-backslash flag (see _jvm_unescape).
    """
    _, groups = plan.java_pattern()
    has_bs = col.contains("\\") if line_bs is None else line_bs
    eligible = col.isNotNull() & ~col.contains(_SEP)
    has_dup_binds = len(plan.bind_groups) > len({f for _, f in plan.bind_groups})
    if plan.fmt.esc != ESC_NONE and has_dup_binds:
        # map-mode duplicate names: the reference unescape-validates EVERY
        # bound occurrence, but the JVM extraction only carries the final
        # group per field — route backslash rows to the (exact) Arrow tier
        eligible = eligible & ~has_bs
    elif plan.fmt.esc != ESC_NONE and not plan.esc_aware:
        if plan.esc_aware_clean:
            # json: the pattern is exact for CLEAN lines only — dirty
            # backslash rows go to the Arrow/oracle path
            eligible = eligible & (~has_bs | col.rlike(_JSON_CLEAN_JAVA))
        else:
            # unsafe delimiter set: backslash rows go to Arrow/oracle
            eligible = eligible & ~has_bs

    ordered = sorted(groups.items(), key=lambda kv: kv[1])
    if ordered:
        jvm_hit = eligible & (F.size(parts) == len(ordered) + 1)
        # F.get (not []): unmatched rows carry a 1-element array and ANSI
        # mode makes [] throw instead of returning NULL
        raws = {name: F.get(parts, pos) for pos, (name, _) in enumerate(ordered)}
    else:
        jvm_hit = eligible & parts.isNotNull()
        raws = {}

    values: dict[str, Column] = {}
    accept_all = F.lit(True)
    for f in plan.fields:
        if f.group is None:  # Go zero value on successful rows
            if f.typ in ("string", "bytes"):
                values[f.name] = F.lit("")
            elif f.typ == "bool":
                values[f.name] = F.lit(False)
            elif f.typ in _SPARK_TYPES:
                values[f.name] = F.lit(0).cast(_SPARK_TYPES[f.typ].simpleString())
            else:  # unsupported type absent from format → always NULL
                values[f.name] = F.lit(None).cast("string")
            continue
        raw = raws[f.name]
        if plan.esc_aware or plan.esc_aware_clean:
            raw, esc_ok = _jvm_unescape(
                raw, f.typ, "default" if plan.esc_aware else "json", line_bs=line_bs
            )
            accept_all = accept_all & esc_ok
        v, ok = _jvm_cast(raw, f.typ)
        values[f.name] = v
        accept_all = accept_all & ok
    return jvm_hit & accept_all, values


def parse_lines(
    df: DataFrame,
    plan: ParsePlan,
    text_col: str | Column = "text",
    struct_col: str = "parsed",
    flatten: bool = True,
    engine: str = "hybrid",
) -> DataFrame:
    """Append parsed fields (+ _matched/_error) to ``df``.

    engine="hybrid" (default): JVM regex/cast fast path, Arrow+oracle for
    the hard tail — bit-identical results to engine="arrow", which runs
    every row through the Arrow-batched pandas UDF.
    With ``flatten=True`` the fields land as top-level columns; otherwise a
    single struct column ``struct_col`` is added.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    udf = make_parse_udf(plan)
    if engine == "hybrid" and plan.pattern is not None:
        # Backslash-free rows (the overwhelming majority) are parsed
        # entirely on the JVM; rows with a backslash, regex misses, cast
        # anomalies, and null text need the pandas UDF. Every row still
        # crosses the Arrow exchange: a fast row goes in as NULL and comes
        # back as a "null text" struct that the when() below discards
        # (filtering them out was measured slower; see the module
        # docstring). The slow struct lands in its own projection
        # first: the UDF is referenced once (single ArrowEvalPython) and,
        # being marked non-deterministic, the projection never
        # collapses/duplicates.
        parts_name = f"_{struct_col}_parts"
        slow_name = f"_{struct_col}_slow"
        bs_name = f"_{struct_col}_bs"
        # one line-level backslash scan, materialized (Catalyst does not
        # CSE) — every per-field escape check short-circuits through it
        out = df.withColumn(bs_name, F.coalesce(col.contains("\\"), F.lit(False)))
        out = out.withColumn(parts_name, _parts_expr(plan, col))
        jvm_ok, values = _jvm_parts(plan, col, F.col(parts_name), line_bs=F.col(bs_name))
        # Materialize the tier-1 verdict ONCE (r7): jvm_ok is referenced
        # by every field's when(), the UDF mask, _matched and _error —
        # inline it was evaluated ~n_fields+2 times per row (each eval
        # re-running the digit RLIKEs + try_casts; visible as the
        # repeated CASE in the r6 physical plans). As a multi-referenced
        # NON-CHEAP alias, CollapseProject keeps the projection separate
        # (SPARK-36718), so the check runs once per row. Values are
        # unchanged — same expression, one evaluation point.
        ok_name = f"_{struct_col}_ok"
        out = out.withColumn(ok_name, jvm_ok)
        jvm_ok = F.col(ok_name)
        out = out.withColumn(slow_name, udf(F.when(~jvm_ok, col)))
        slow = F.col(slow_name)
        fields = [
            F.when(jvm_ok, values[f.name]).otherwise(slow[f.name]).alias(f.name)
            for f in plan.fields
        ]
        matched = F.when(jvm_ok, F.lit(True)).otherwise(slow[MATCHED_COL]).alias(MATCHED_COL)
        error = (
            F.when(jvm_ok, F.lit(None).cast("string"))
            .otherwise(slow[ERROR_COL])
            .alias(ERROR_COL)
        )
        out = out.withColumn(struct_col, F.struct(*fields, matched, error))
        if os.environ.get("SPARK_GRAFT_PARSE_METRICS") == "1":
            from pyspark.sql import Observation

            obs = Observation()
            # NULL input (e.g. fallback-chain masked rows) does no Python
            # work in the UDF — only non-null rows missing the JVM path
            # count as tail
            out = out.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(~jvm_ok & col.isNotNull(), 1).otherwise(0)).alias("arrow_rows"),
            )
            PARSE_TIER_OBS.append((struct_col, obs))
        out = out.drop(parts_name, slow_name, bs_name, ok_name)
    else:
        out = df.withColumn(struct_col, udf(col))
    if flatten:
        out = out.select("*", f"{struct_col}.*").drop(struct_col)
    return out


def parse_fallback_chain(
    df: DataFrame,
    plans: dict[str, ParsePlan],
    text_col: str = "text",
    engine: str = "hybrid",
) -> DataFrame:
    """Multi-format fallback: try each plan in order; later plans only see
    rows every earlier plan REJECTED (their parse input is NULL-masked, so
    each row pays ~one parse regardless of chain length — at 10^12 rows an
    unmasked N-format chain costs N× parse). Appends one struct column per
    plan key plus ``_fmt``: the first matching plan's key, else NULL.
    """
    out = df
    matched_any: Column | None = None
    fmt_col: Column = F.lit(None).cast("string")
    for key, plan in plans.items():
        src = F.col(text_col) if matched_any is None else F.when(~matched_any, F.col(text_col))
        out = parse_lines(out, plan, text_col=src, struct_col=key, flatten=False, engine=engine)
        this = F.col(f"{key}.{MATCHED_COL}")
        fmt_col = F.coalesce(fmt_col, F.when(this, F.lit(key)))
        matched_any = this if matched_any is None else (matched_any | this)
    return out.withColumn("_fmt", fmt_col)
