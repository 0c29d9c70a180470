"""Checkpoint-resumable batch runner with per-partition lineage + metrics.

The unit of work is a conv_id hash bucket (stable across runs and
parallelism). A manifest JSON under ``<out>/_manifest/`` records each
completed bucket with its row counts and parse rate; on resume, completed
buckets are skipped.

Scale design (the round-1 version re-scanned — and re-ran the whole
upstream pipeline over — the full source once per bucket group, making
resume cost (n_buckets/group_size)× the pipeline):

1. **Stage once**: the source rows are written bucket-partitioned to
   ``<out>/_staging`` (a cheap column-append + write, NO parse), recorded
   in the manifest. Re-running a crashed staging is an idempotent
   overwrite.
2. **Per group**: read the staging with a bucket filter — ``conv_bucket``
   is a *partition column*, so the filter prunes at the scan and each
   group's job reads ONLY its share of files — then apply ``transform``
   (the parse→enrich→route pipeline) to just those rows and write with
   dynamic partition overwrite (idempotent re-runs).

At cluster scale the staging/manifest live on object storage next to the
table; the mechanism is identical.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "conv_bucket"
_STAGED_KEY = "_staged"


@dataclass
class Manifest:
    path: str
    buckets: dict[str, dict] = field(default_factory=dict)

    @classmethod
    def load(cls, out_dir: str) -> "Manifest":
        p = os.path.join(out_dir, "_manifest", "manifest.json")
        m = cls(path=p)
        if os.path.exists(p):
            with open(p) as f:
                m.buckets = json.load(f)
        return m

    def completed(self) -> set[int]:
        return {
            int(k)
            for k, v in self.buckets.items()
            if not k.startswith("_") and v.get("status") == "done"
        }

    def staged(self) -> bool:
        return self.buckets.get(_STAGED_KEY, {}).get("status") == "done"

    def mark_staged(self, metrics: dict) -> None:
        self.buckets[_STAGED_KEY] = {"status": "done", "ts": time.time(), **metrics}
        self._flush()

    def stage_done(self, name: str) -> bool:
        """Named-stage completion (e.g. curation's quality/deduped/curated
        tables) — underscore-prefixed keys stay invisible to completed()."""
        return self.buckets.get(f"_stage_{name}", {}).get("status") == "done"

    def mark_stage(self, name: str, metrics: dict) -> None:
        self.buckets[f"_stage_{name}"] = {"status": "done", "ts": time.time(), **metrics}
        self._flush()

    def mark_done(self, bucket: int, metrics: dict) -> None:
        self.buckets[str(bucket)] = {"status": "done", "ts": time.time(), **metrics}
        self._flush()

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.buckets, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def run_resumable(
    df: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    group_size: int = 16,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> dict:
    """Stage the source bucket-partitioned ONCE, then process incomplete
    buckets in groups; each group reads only its partition-pruned share of
    the staging, applies ``transform`` (identity if None — then ``df`` must
    already carry ``_matched``), and writes ``partitionBy(conv_bucket)``
    with dynamic overwrite. Returns summary metrics.

    ``group_size`` trades resume granularity against job count.
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    man = Manifest.load(out_dir)
    done = man.completed()
    todo = sorted(set(range(n_buckets)) - done)
    staging_path = os.path.join(out_dir, "_staging")

    if todo and not man.staged():
        t0 = time.time()
        df.withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
        ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging_path)
        man.mark_staged({"n_buckets": n_buckets, "secs": round(time.time() - t0, 3)})
    staged = spark.read.parquet(staging_path)

    total = {"rows": 0, "matched": 0, "buckets_done": len(done), "buckets_run": 0}
    from pyspark.sql import Observation

    for gstart in range(0, len(todo), group_size):
        group = todo[gstart : gstart + group_size]
        # the isin filter hits the PARTITION column → pruned at the scan:
        # this job reads (and parses) only the group's share of the corpus
        part_src = staged.filter(F.col(BUCKET_COL).isin(group))
        part = transform(part_src) if transform is not None else part_src
        obs = Observation(f"lineage_{group[0]}")
        part = part.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_matched").cast("long")).alias("matched"),
        )
        data_path = os.path.join(out_dir, "data")
        part.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(data_path)
        got = obs.get
        rows, matched = int(got["rows"] or 0), int(got["matched"] or 0)
        # per-partition lineage: exact per-bucket rows + parse rate, read
        # back from the WRITTEN sink files (already parsed — one cheap
        # aggregation over the group's output, no re-parse of the source)
        per_bucket = {
            int(r[BUCKET_COL]): (int(r["rows"]), int(r["matched"]))
            for r in (
                spark.read.parquet(data_path)
                .filter(F.col(BUCKET_COL).isin(group))
                .groupBy(BUCKET_COL)
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("_matched").cast("long")).alias("matched"),
                )
                .collect()
            )
        }
        for b in group:
            b_rows, b_matched = per_bucket.get(b, (0, 0))
            man.mark_done(
                b,
                {
                    "group": group,
                    "rows": b_rows,
                    "matched": b_matched,
                    "parse_rate": (b_matched / b_rows) if b_rows else None,
                    "source_rows_in_group": rows,
                },
            )
        total["rows"] += rows
        total["matched"] += matched
        total["buckets_run"] += len(group)
    return total
