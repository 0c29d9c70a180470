r"""Compiled op-program → anchored regex + typed cast plan.

The scanner in the reference (codec_struct.go:71-181) is a left-to-right,
no-backtracking cursor: each variable ends at the FIRST occurrence of the
following literal, and once a delimiter is accepted the scanner never
revisits it. On lines that contain **no backslash**, the backslash-retry
rule (codec_struct.go:101-117, 139-158) can never trigger and dialect
unescaping (escape.go:134, 229) is the identity, so the scan is exactly
equivalent to an anchored regex in which every ``variable + delimiter``
pair is wrapped in an **atomic group** ``(?>…)`` (Python ``re`` ≥3.11):
the lazy ``.*?`` finds the first occurrence, and atomicity forbids the
backtracking a plain regex would do when a later literal fails.

**Default-dialect plans vectorize the backslash-retry rule too**
(``esc_aware=True``): the retry loop (codec_struct.go:101-117) is — for
``escape=default`` — a *purely textual* skip-jump: find the first
delimiter occurrence from the cursor; if it starts after the cursor AND
the byte before it is ``\\``, jump past it and repeat; else accept. That
is exactly emulated with possessive quantifiers (no backtracking, Python
≥3.11 and java.util.regex):

    NOTD  = (?:(?!D)(?s:.))          # one char that does not start D
    skip  = NOTD++ (?<=\\) D          # scan to FIRST occurrence; it must
                                      # be preceded by a backslash (≥1 char
                                      # scanned, i.e. off > p) → consume it
    unit  = (?P<g> skip*+ NOTD*+ ) D  # skipped delims stay inside the raw

``skip*+`` is possessive, so a failed later op can never re-enter and
accept a skipped occurrence; scanning resumes after the *whole* consumed
delimiter, so occurrences overlapping a skipped one are invisible to the
regex exactly as they are to ``bytes.find(delim, off+len)``.
Differential-tested against the oracle cursor (36k random cases across
bordered/overlapping/backslash delimiters + hypothesis fuzzing).

**Json-dialect plans vectorize backslash rows too, conditionally**
(``esc_aware_clean=True``): the json retry accepts a backslash-preceded
delimiter iff the candidate window json-unescapes cleanly
(codec_struct.go:104-109) — not textual in general, but on a CLEAN line
(every backslash starts a valid json escape — one rlike per row) window
validity reduces to "does the window end mid-escape", which is the
backslash-run PARITY before the delimiter. Parity is tracked by scanning
in escape-sized atoms:

    SCAN = (?:(?!D)(?:[^\\]|\\(?!D)(?s:.)))   # 1 plain char or a 2-char
                                               # \X atom (not starting D)
    skip = SCAN*+ \\ D    # candidate at a \X atom's 2nd char = odd run =
                          # invalid window → consume \ + D (= the cursor's
                          # jump off+len, exactly)
    unit = (?P<g> skip*+ SCAN*+ ) D            # first atom-boundary D

Stopping mid-``\\uXXXX`` mirrors the cursor's naive acceptance there (the
kernel unescape then fails with the identical error). Differentials: 47k
bind + 42k discard random clean-row cases across bordered / escape-letter
/ hex delimiters, 0 diffs; hypothesis fuzzing on top. Lines that fail the
clean rlike (rare: malformed escapes) and plans with a ``\\`` inside an
ESC delimiter are routed to the pure-Python oracle inside the same Arrow
batch (see parse.py) — the only remaining per-row tail.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ngxspark.fmtcompile import (
    OP_BIND,
    OP_ESC_STRING,
    OP_STRING,
    OP_VARIABLE,
    LogFormat,
)
from ngxspark.oracle import SUPPORTED_TYPES, BoundOp, bind_map, bind_struct

# Marker group matching empty at pattern start: present (as '') on regex hit,
# NaN on miss — lets one Series.str.extract call yield both fields and the
# matched flag.
MATCH_GROUP = "m_"


@dataclass(frozen=True)
class FieldSpec:
    name: str       # output column name
    var: bytes      # template variable name
    typ: str        # ngx type name ('string', 'int', 'bool', ...)
    group: str | None  # regex group name; None if the plan always errors


@dataclass(frozen=True)
class ParsePlan:
    """Everything the executors need, pickled once into the UDF closure."""

    fmt: LogFormat
    ops: tuple[BoundOp, ...]
    fields: tuple[FieldSpec, ...]
    pattern: str | None          # None when always_error
    always_error: str | None     # e.g. the '$a$b' unsupported-format message
    mode: str = "struct"         # 'struct' | 'map'
    bindings: dict[str, str] = field(default_factory=dict)
    # True for escape=default plans: the pattern emulates the backslash-
    # retry rule, so lines containing backslashes are vectorizable (bound
    # values still need dialect unescaping — see parse.py).
    esc_aware: bool = False
    # True for escape=json plans whose ESC delimiters are all backslash-
    # free: the pattern is exact for CLEAN lines (every backslash starts a
    # valid json escape — parse.py gates on one rlike per row).
    esc_aware_clean: bool = False
    # every BIND op's (group_name, field_name) in OP ORDER — map-mode
    # duplicate names bind MULTIPLE ops and the reference unescape-
    # validates each occurrence left-to-right even though only the last
    # value survives (codec_map.go:186-191); parse.py walks this list.
    bind_groups: tuple = ()

    def compiled(self) -> re.Pattern | None:
        return re.compile(self.pattern) if self.pattern is not None else None

    def java_pattern(self) -> tuple[str | None, dict[str, int]]:
        """Java-flavor pattern (for JVM regexp_extract) + field→group-index
        map. Python named groups ``(?P<g>`` become numbered Java groups —
        every other construct used by the builder (\\A anchor, atomic
        ``(?>``, inline ``(?s:``, lazy quantifiers, ``re.escape`` output)
        is valid and identically-semantic in java.util.regex.
        """
        if self.pattern is None:
            return None, {}
        # strip the sentinel marker group, then de-name the groups in order
        pat = self.pattern.replace(f"(?P<{MATCH_GROUP}>)", "", 1)
        order: list[str] = []

        def repl(m: re.Match) -> str:
            order.append(m.group(1))
            return "("

        jpat = re.sub(r"\(\?P<([A-Za-z0-9_]+)>", repl, pat)
        gidx = {name: i + 1 for i, name in enumerate(order)}
        field_groups = {
            f.name: gidx[f.group] for f in self.fields if f.group is not None
        }
        return jpat, field_groups


def _var_delim_unit(delim: str, gname: str | None, mode: str) -> str:
    """Regex for one ``variable + delimiter`` pair.

    mode="plain": first-occurrence scan in an atomic group (OP_STRING
    delimiters, and ESC delimiters when the dialect's retry rule is not
    vectorizable). mode="default": the default-dialect backslash-retry
    emulation. mode="json": the clean-line json retry emulation (escape-
    atom parity scan). All fully possessive, hence self-atomic — see the
    module docstring for the exactness arguments.
    """
    d = re.escape(delim)
    if mode == "plain":
        g = f"(?P<{gname}>(?s:.*?))" if gname else "(?s:.*?)"
        return f"(?>{g}{d})"
    if mode == "default":
        notd = f"(?:(?!{d})(?s:.))"
        skip = f"(?:{notd}++(?<=\\\\){d})"
        body = f"{skip}*+{notd}*+"
    else:  # json (clean lines)
        scan = f"(?:(?!{d})(?:[^\\\\]|\\\\(?!{d})(?s:.)))"
        skip = f"(?:{scan}*+\\\\{d})"
        body = f"{skip}*+{scan}*+"
    g = f"(?P<{gname}>{body})" if gname else f"(?:{body})"
    return f"{g}{d}"


def _build_regex(
    ops: tuple[BoundOp, ...], esc: int
) -> tuple[str | None, dict[str, str], str | None, bool, bool, tuple]:
    """Return (pattern, {field→group}, always_error, esc_aware,
    esc_aware_clean).

    Mirrors the decode loop: ops after a trailing unbound variable (or any
    op after the scan provably returns) are unreachable and excluded; input
    after a final literal is ignored (no $ anchor); a trailing bound
    variable consumes the rest of the line greedily.

    ``esc_aware`` is True iff the pattern is exact for ALL lines containing
    backslashes (escape=default: ESC_STRING delimiters carry the skip-aware
    retry construct; escape=none: backslashes are plain bytes).
    ``esc_aware_clean`` is True iff it is exact for CLEAN json lines
    (requires every ESC delimiter to be backslash-free).
    """
    from ngxspark.escapes import ESC_DEFAULT, ESC_JSON

    if esc == ESC_DEFAULT:
        delim_mode = "default"
    elif esc == ESC_JSON and all(
        b"\\" not in op.extra for op in ops if op.type == OP_ESC_STRING
    ):
        delim_mode = "json"
    else:
        delim_mode = "plain"
    # \A anchors even under re.search (pandas str.extract searches);
    # decode always starts at p=0 (codec_struct.go:72)
    parts: list[str] = [f"\\A(?P<{MATCH_GROUP}>)"]
    groups: dict[str, str] = {}
    bind_groups: list[tuple[str, str]] = []
    gi = 0
    i = 0
    n = len(ops)
    while i < n:
        op = ops[i]
        if op.type in (OP_STRING, OP_ESC_STRING):
            parts.append(re.escape(op.extra.decode("utf-8")))
            i += 1
        elif op.type == OP_VARIABLE:
            if i + 1 >= n:
                break  # decode returns successfully here; rest unreachable
            nxt = ops[i + 1]
            if nxt.type not in (OP_STRING, OP_ESC_STRING):
                return (
                    None,
                    {},
                    f"ngx-go does not support '${op.extra.decode('utf-8')}${nxt.extra.decode('utf-8')}' style format",
                    False,
                    False,
                    (),
                )
            # only ESC_STRING delimiters get the backslash-retry rule
            # (codec_struct.go:96-118: the plain-OP_STRING arm is a bare find)
            parts.append(
                _var_delim_unit(
                    nxt.extra.decode("utf-8"),
                    None,
                    delim_mode if nxt.type == OP_ESC_STRING else "plain",
                )
            )
            i += 2
        elif op.type == OP_BIND:
            gname = f"g{gi}"
            gi += 1
            groups[op.field] = gname
            bind_groups.append((gname, op.field))
            if i + 1 >= n:
                parts.append(f"(?P<{gname}>(?s:.*))")
                i += 1
            else:
                nxt = ops[i + 1]
                if nxt.type not in (OP_STRING, OP_ESC_STRING):
                    return (
                        None,
                        {},
                        f"ngx-go does not support '${op.extra.decode('utf-8')}${nxt.extra.decode('utf-8')}' style format",
                        False,
                    )
                parts.append(
                    _var_delim_unit(
                        nxt.extra.decode("utf-8"),
                        gname,
                        delim_mode if nxt.type == OP_ESC_STRING else "plain",
                    )
                )
                i += 2
        else:
            raise ValueError(f"Unsupported operator type({op.type})")
    return (
        "".join(parts),
        groups,
        None,
        delim_mode == "default",
        delim_mode == "json",
        tuple(bind_groups),
    )


def plan_struct(fmt: LogFormat, bindings: dict[str, str]) -> ParsePlan:
    """Struct-mode plan: bindings maps template variable → ngx type name.

    Output columns are the binding names in insertion order; variables not
    in ``fmt.supported`` still yield columns (Go zero values on success).
    An unsupported type raises ONLY if the variable appears in the format
    (codec_struct.go:34-42); otherwise the field is never decoded and its
    column is always NULL (the closest analog of Go's zero value for an
    arbitrary type).
    """
    for name, typ in bindings.items():
        if typ not in SUPPORTED_TYPES and name in fmt.supported:
            raise ValueError(f'Unsupported decoding type "{typ}"')
    ops = bind_struct(fmt, bindings)
    pattern, groups, always_error, esc_aware, esc_clean, bind_groups = _build_regex(ops, fmt.esc)
    fields = tuple(
        FieldSpec(name=name, var=name.encode("utf-8"), typ=typ, group=groups.get(name))
        for name, typ in bindings.items()
        if name != "_"
    )
    return ParsePlan(
        fmt=fmt,
        ops=ops,
        fields=fields,
        pattern=pattern,
        always_error=always_error,
        mode="struct",
        bindings=dict(bindings),
        esc_aware=esc_aware,
        esc_aware_clean=esc_clean,
        bind_groups=bind_groups,
    )


def plan_map(fmt: LogFormat) -> ParsePlan:
    """Map-mode plan: every non-`_` variable becomes a string column.

    Duplicate variable names: the LAST occurrence wins (codec_map.go:186-191)
    — the field binds to the regex group of its last op.
    """
    ops = bind_map(fmt)
    pattern, groups_by_field, always_error, esc_aware, esc_clean, bind_groups = _build_regex(ops, fmt.esc)
    # _build_regex assigns one group per BIND op in order; for duplicate
    # names the dict write order already leaves the LAST op's group.
    seen: dict[str, str | None] = {}
    for op in ops:
        if op.type == OP_BIND:
            seen[op.field] = groups_by_field.get(op.field)
    fields = tuple(
        FieldSpec(name=name, var=name.encode("utf-8"), typ="string", group=grp)
        for name, grp in seen.items()
    )
    return ParsePlan(
        fmt=fmt,
        ops=ops,
        fields=fields,
        pattern=pattern,
        always_error=always_error,
        mode="map",
        esc_aware=esc_aware,
        esc_aware_clean=esc_clean,
        bind_groups=bind_groups,
    )
