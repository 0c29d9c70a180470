"""Enrichment lookups (FIXTURES.md §2, SURVEY.md §2.5).

The three constant dimensions (status class, tool taxonomy, role) are
lookups in literal maps built from the module constants:
``coalesce(m[key], 'unknown')``. The map travels to the executors in the
task closure, which moves the same data a broadcast would, but without a
broadcast job or a hashed relation, and the fact side is still never
shuffled. The lookups stay inside the code-generated projection, so
Catalyst drops one whose column nobody reads, which it cannot do with a
left join. ``m[key]`` (GetMapValue) gives NULL for a missing or NULL key
whatever the ANSI setting (``element_at`` has raised on a missing key
under ANSI in earlier Spark versions).

The GeoIP-style range dimension (``enrich_ip_range``) grows with a real
table, so it stays an explicit broadcast equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATUS_CLASSES = [(1, "1xx"), (2, "2xx"), (3, "3xx"), (4, "4xx"), (5, "5xx")]

TOOL_TAXONOMY = [
    ("bash", "shell", True),
    ("read", "fs_read", False),
    ("grep", "fs_read", False),
    ("write", "fs_write", True),
    ("edit", "fs_write", True),
    ("none", "none", False),
]

ROLE_DICT = [
    ("user", "human", 1.0),
    ("assistant", "model", 1.0),
    ("system", "control", 0.5),
    ("tool", "machine", 0.8),
]


def _literal_map(pairs) -> Column:
    """A literal map over (key, value) constants."""
    return F.create_map(*[F.lit(x) for kv in pairs for x in kv])


def enrich_status_class(df: DataFrame, status_col: str = "status") -> DataFrame:
    """Status class looked up on the status century digit,
    ``floor(status/100)`` cast to int; unparsed/odd rows → 'unknown'
    (FIXTURES.md: else→unknown)."""
    digit = F.floor(F.col(status_col) / 100).cast("int")
    return df.withColumn(
        "status_class", F.coalesce(_literal_map(STATUS_CLASSES)[digit], F.lit("unknown"))
    )


def enrich_tool(df: DataFrame, tool_col: str = "tool") -> DataFrame:
    """Adds ``tool_family`` (unknown tool → 'unknown') and
    ``is_side_effecting`` (unknown tool → NULL)."""
    key = F.col(tool_col)
    family = _literal_map([(t, fam) for t, fam, _ in TOOL_TAXONOMY])
    side = _literal_map([(t, se) for t, _, se in TOOL_TAXONOMY])
    return df.withColumns(
        {"tool_family": F.coalesce(family[key], F.lit("unknown")), "is_side_effecting": side[key]}
    )


def enrich_role(df: DataFrame, role_col: str = "role") -> DataFrame:
    """Adds ``role_kind`` (unknown role → 'unknown') and ``weight``
    (unknown role → NULL)."""
    key = F.col(role_col)
    kind = _literal_map([(r, k) for r, k, _ in ROLE_DICT])
    weight = _literal_map([(r, w) for r, _, w in ROLE_DICT])
    return df.withColumns(
        {"role_kind": F.coalesce(kind[key], F.lit("unknown")), "weight": weight[key]}
    )


def enrich_all(df: DataFrame) -> DataFrame:
    return enrich_role(enrich_tool(enrich_status_class(df)))


# GeoIP-style CIDR range dimension (deterministic sandbox stand-in for a
# MaxMind-like table). Non-overlapping by construction — verified at
# expansion time — covering most of 10.0.0.0/8 with one deliberate gap
# (10.176.0.0/12 → 'unknown') so both match and miss paths are exercised.
IP_RANGES = [
    ("10.0.0.0/11", "region-a"),
    ("10.32.0.0/11", "region-b"),
    ("10.64.0.0/10", "region-c"),
    ("10.128.0.0/12", "dc-1"),
    ("10.144.0.0/12", "dc-2"),
    ("10.160.0.0/12", "dc-3"),
    ("10.192.0.0/10", "edge"),
]


def cidr_bounds(cidr: str) -> tuple[int, int]:
    """[lo, hi] inclusive integer bounds of a CIDR block."""
    net, p = cidr.split("/")
    a, b, c, d = (int(x) for x in net.split("."))
    size = 1 << (32 - int(p))
    lo = (((a * 256 + b) * 256 + c) * 256 + d) & ~(size - 1)
    return lo, lo + size - 1


def ip_range_dim_rows(
    ranges: list[tuple[str, str]] | None = None, prefix_bits: int = 16
) -> list[tuple[int, int, int, str]]:
    """Expand CIDRs into /prefix_bits-aligned (pfx, lo, hi, label) rows.

    This is what turns the range join into an EQUI-join: every block is
    split at /16 boundaries, so the fact side joins on its ip's /16
    prefix (BroadcastHashJoin) and the range check becomes a residual
    filter — no BroadcastNestedLoopJoin ever, regardless of dim size.
    Expansion factor is 2^(16-p) for blocks wider than /16; real GeoIP
    tables are dominated by /16-and-narrower blocks, so the expanded
    dim stays broadcast-sized. Raises on overlapping input ranges
    (longest-prefix tie-breaking would need a rank — out of scope)."""
    ranges = IP_RANGES if ranges is None else ranges
    bounds = sorted(cidr_bounds(c) for c, _ in ranges)
    for (_, h1), (l2, _) in zip(bounds, bounds[1:]):
        if l2 <= h1:
            raise ValueError("overlapping CIDR ranges in dimension")
    step = 1 << (32 - prefix_bits)
    rows = []
    for cidr, label in ranges:
        lo, hi = cidr_bounds(cidr)
        for pfx in range(lo >> (32 - prefix_bits), (hi >> (32 - prefix_bits)) + 1):
            rows.append(
                (pfx, max(lo, pfx * step), min(hi, (pfx + 1) * step - 1), label)
            )
    return rows


def ip_to_int(col) -> "F.Column":
    """Dotted-quad string → integer (pure JVM split/cast arithmetic).

    try_cast, not cast: a log pipeline's remote_addr is routinely dirty
    ('-', empty, a hostname) and under Spark 4 ANSI a plain cast would
    throw CAST_INVALID_INPUT and kill the whole job; try_cast yields a
    NULL _ip_int which the left join + coalesce lands in 'unknown'
    (r6 advice — the repo's own Column.try_cast invariant)."""
    parts = F.split(col, r"\.")
    return (
        F.get(parts, 0).try_cast("long") * 16777216
        + F.get(parts, 1).try_cast("long") * 65536
        + F.get(parts, 2).try_cast("long") * 256
        + F.get(parts, 3).try_cast("long")
    )


def enrich_ip_range(
    df: DataFrame,
    ip_col: str = "remote_addr",
    ranges: list[tuple[str, str]] | None = None,
    prefix_bits: int = 16,
) -> DataFrame:
    """GeoIP-style range enrich as a broadcast EQUI-join.

    The classic log-pipeline lookup Spark has no native operator for:
    ip BETWEEN lo AND hi against a range table. A naive join on the
    BETWEEN predicate plans a BroadcastNestedLoopJoin — O(rows × ranges)
    comparisons. Here the dim is pre-split at /16 boundaries
    (ip_range_dim_rows), the join key is the ip's /16 prefix, and the
    range check rides as a residual filter on the hash join: O(rows)
    probes, unmatched ips → 'unknown'. Left join is row-preserving
    because the dim is non-overlapping (enforced at expansion)."""
    spark = df.sparkSession
    dim = spark.createDataFrame(
        ip_range_dim_rows(ranges, prefix_bits), "pfx long, lo long, hi long, ip_label string"
    )
    staged = df.withColumn("_ip_int", ip_to_int(F.col(ip_col)))
    pfx = F.floor(F.col("_ip_int") / (1 << (32 - prefix_bits))).cast("long")
    out = staged.join(
        F.broadcast(dim),
        (pfx == dim.pfx) & (F.col("_ip_int") >= dim.lo) & (F.col("_ip_int") <= dim.hi),
        "left",
    ).drop("pfx", "lo", "hi")
    return out.withColumn("ip_label", F.coalesce(F.col("ip_label"), F.lit("unknown")))
