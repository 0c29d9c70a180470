"""End-to-end transcript pipeline: parse → enrich → route → aggregate.

The flagship flow from the north rule. One declarative plan: Catalyst
prunes everything but ``text`` (+passthrough keys) into the parse UDF,
looks the enrich columns up in literal maps inside the same
projection, and computes per-sink aggregates with partial aggregation.
No collect, no driver loops.

The four aggregates of ``pipeline_aggregates`` share one checkpointed
prefix: the routed stream's narrow projection is parsed, enriched and
routed once, by whichever aggregate is collected first, and the other
three read its stored blocks instead of parsing again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ngxspark.aggregate import (
    counts_by_role_status,
    turns_per_conversation,
    windowed_counts,
)
from ngxspark.enrich import enrich_all
from ngxspark.fmtcompile import COMBINED_FMT, compile_format
from ngxspark.parse import parse_lines
from ngxspark.plan import ParsePlan, plan_struct
from ngxspark.route import route

# The canonical access-log schema over transcript text (reference Access
# struct, ngx.go:22-34, minus fields the combined format doesn't carry).
ACCESS_SCHEMA = {
    "remote_addr": "string",
    "remote_user": "string",
    "time_local": "string",
    "request": "string",
    "status": "int64",
    "body_bytes_sent": "int64",
    "http_referer": "string",
    "http_user_agent": "string",
}


def combined_plan() -> ParsePlan:
    return plan_struct(compile_format(COMBINED_FMT), ACCESS_SCHEMA)


def parse_enrich_route(df: DataFrame, plan: ParsePlan | None = None) -> DataFrame:
    plan = plan or combined_plan()
    parsed = parse_lines(df, plan)
    return route(enrich_all(parsed))


def pipeline_aggregates(routed: DataFrame) -> dict[str, DataFrame]:
    """The north-rule aggregate set over the routed stream.

    The routed stream is projected to the seven columns the aggregates
    read and local-checkpointed lazily, so the first collect computes it
    and the other three read the stored blocks. ``cache()`` would register
    the plan with Spark's CacheManager, which matches by plan equality: a
    later call over an equal plan (a re-read of the same path) would
    silently reuse this call's rows. A local checkpoint is never shared
    across calls. It is taken below the aggregates' shuffles, and the
    prefix below it is narrow, so building the frames runs no Spark job.

    Limits:

    * the narrow projection stays in executor storage (memory, spilling
      to disk) until the returned frames are garbage-collected;
    * lineage is truncated, so losing an executor fails the remaining
      collects loudly instead of recomputing them (the same trade-off as
      the ``connected_components`` rounds);
    * streaming input is not supported.
    """
    routed = routed.select(
        "sink", "role", "status_class", "conv_id", "turn_idx", "ts", "_matched"
    ).localCheckpoint(eager=False)
    return {
        "per_sink": routed.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).orderBy("sink"),
        "by_role_status": counts_by_role_status(routed),
        "by_conv_bucket": turns_per_conversation(routed),
        "by_window": windowed_counts(routed.filter(F.col("_matched"))),
    }
