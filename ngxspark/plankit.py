"""Plan-shaping helpers shared across operator modules.

materialize_once: a pushdown/duplication barrier for EXPENSIVE
deterministic expressions. Catalyst does not CSE, and two optimizer
rules actively duplicate heavy expressions:

* predicate pushdown inlines a filter's referenced aliases through
  every Project it crosses — a filter on a derived heavy column ends up
  re-computing the full expression below the exchange, at SCAN
  parallelism (r7 finding: the curation quality gate and the inferred
  join-key not-null filters of the simhash pair join both re-ran their
  whole fold per row on the 1-2 parquet splits of the gate tables,
  serializing work `_spread` exists to parallelize);
* InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)` above an
  explode and the filter then pushes+inlines the same way (r7 finding:
  dsir pass 1 evaluated the unigram+bigram feature build 3× per row,
  2.5 s of a 4.6 s pass at sf0.1).

The same holds inside a lambda: Catalyst does not CSE into a
``lambdafunction`` body either, so an outer expression there runs once
per array ELEMENT. Never apply split, regexp_*, lower or md5 to an outer
column inside a transform/filter/aggregate lambda — stage the value in a
column the lambda reads, or move the work out of the lambda (a shingle
lambda slicing ``split(text)`` re-split the whole text once per shingle,
O(words²) per document; see dedup.shingles). Pinned for every registry
plan by test_no_lambda_reevaluates_outer_heavy_expression.

Wrapping the expression in `F.when(F.rand(26) + 1.0 > 0.0, col)` leaves
every VALUE unchanged — rand() ∈ [0,1) so the branch is always taken,
and null flows through the branch unchanged — but marks the expression
non-deterministic, which (a) stops filter pushdown through the
projection, (b) stops CollapseProject from inlining it downstream, and
(c) stops filter inference from cloning it. This is the §4.4 guide
lesson (mark expensive UDFs non-deterministic so the optimizer cannot
duplicate them) applied to heavy BUILT-IN expression trees. The `+ 1.0`
is load-bearing: Spark 4 constant-folds a bare `rand(26) > -1.0` to true
from rand's known bounds, which would drop the barrier. Safe under
task retry/speculation: the non-determinism is notational — every
evaluation yields the same value, so re-runs reproduce identical rows
(no SPARK-38388 hazard). Apply it to expensive columns only: it also
blocks pushdown of UNRELATED cheap predicates through the same Project,
so filter-before-derive remains the right order around it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal with backslash+quote escaping
    (Spark's default parser keeps backslash escapes active)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_long_array(vals) -> Column:
    """array<bigint> literal built as ONE parsed expression. The
    per-element `F.array(*[F.lit(v) ...])` form costs one py4j round
    trip per element — ~1 s of DRIVER time per ~3000 literals, paid
    inside every timed query build (r7 measurement); the parsed string
    is ~100× cheaper and yields the same literal array."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_double_array(vals) -> Column:
    """array<double> literal as one parsed expression. repr() is the
    shortest round-trip decimal form and Java's Double.parseDouble is
    correctly rounded, so each element is bit-identical to F.lit(v)."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")


def lit_str_long_map(items) -> Column:
    """map<string,bigint> literal as one parsed expression (the
    create_map twin; ~2 py4j calls per ENTRY before). ``items`` is an
    iterable of (key, value); insertion order preserved like create_map."""
    body = ",".join(f"{_sql_str(k)},{int(v)}L" for k, v in items)
    if not body:
        return F.expr("map()")
    return F.expr(f"map({body})")


def materialize_once(col: Column) -> Column:
    # rand(26) + 1.0 > 0.0 is always true (rand ∈ [0,1)) but NOT folded:
    # Spark 4 simplifies direct comparisons against Rand's known bounds
    # (a bare rand(26) > -1.0 constant-folds away, verified), while the
    # Add defeats the bounds propagation. The fixed seed keeps the
    # subplan byte-identical across self-join sides so ReuseExchange
    # still fires (verified: simhash_pairs keeps its ReusedExchange).
    return F.when(F.rand(26) + F.lit(1.0) > 0.0, col)
