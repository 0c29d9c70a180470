"""Dump normalized Optimized Logical and Physical plans, one file per query.

Usage: SPARK_GRAFT_SF_DIR=<sf_dir> python tools/dump_plans.py <out_dir> [query ...]

Writes ``<out_dir>/<query>.txt`` for every registry query (or only the
named ones): the ``explain("extended")`` text from ``== Optimized Logical
Plan ==`` onward. Operators no registry query reaches are dumped under
their own name (see ``EXTRA``). Run-specific tokens are normalized —
expression ids ``#<id>``, ``plan_id=<n>``, ``/tmp/...`` temp paths and
lambda variables ``x_<n>``/``y_<n>``/``z_<n>`` (PySpark numbers them from
one per-process counter, so one query more or less renames them in every
later plan) — so two checkouts dumped with the same session settings
compare with ``diff -r``: an empty diff means the plans are byte-identical.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/<tmp>"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
]


def _fuzzy_contamination_scores(spark, sf_dir):
    """The stateless decontamination twin over q_fuzzy_decontaminate's
    benchmark split (no registry query calls it)."""
    from pyspark.sql import functions as F

    from ngxspark import queries as Q
    from ngxspark.dedup import contamination_index, fuzzy_contamination_scores

    d = Q._read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id").isin(*Q._BENCH_IDS))
    train = d.filter(~F.col("doc_id").isin(*Q._BENCH_IDS))
    return fuzzy_contamination_scores(train, contamination_index(bench), threshold=0.5)


EXTRA = {"fuzzy_contamination_scores": _fuzzy_contamination_scores}


def normalized_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    text = buf.getvalue()
    text = text[text.index("== Optimized Logical Plan ==") :]
    for rx, sub in _NORMALIZE:
        text = rx.sub(sub, text)
    return text


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 2 or not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = sys.argv[1], sys.argv[2:]
    os.makedirs(out_dir, exist_ok=True)

    from ngxspark import queries as Q
    from ngxspark.session import get_spark

    spark = get_spark(app="ngxspark-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # scan nodes cut their DataFilters/PushedFilters text at this many
    # characters (default 100) before normalization, so a lambda renamed
    # x_9 -> x_10 would move the cut; print the filters whole
    spark.conf.set("spark.sql.maxMetadataStringLength", 1 << 20)
    builders = {**Q.queries(), **EXTRA}
    for name in names or list(builders):
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalized_plan(builders[name](spark, sf_dir)))
        print(f"wrote {name}.txt", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
