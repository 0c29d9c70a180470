"""Skew-stress for the dedup family (r6 verdict item 7; guide §2.5).

Builds two equal-size corpora from the sf0.1 documents table:

* uniform — K id-shifted replicas, every text made unique with a
  replica tag (digests ~all distinct, LSH buckets small);
* skewed  — same, except a HOT_FRAC fraction of ALL rows share ONE
  exact boilerplate text: one hot md5 digest, one hot normalized
  digest, one hot segment stream, and (identical docs ⇒ identical
  MinHash signature) one hot bucket in EVERY LSH band.

Then times (noop sink, min-of-2 warm) dedup_exact, dedup_segments,
lsh_candidate_groups and the guarded lsh_verified_pairs on both, and
reports the hot-bucket size the guard excluded. What this demonstrates,
op by op:

* dedup_exact / dedup_segments: the hot digest is a SINGLE KEY — AQE
  skew handling cannot split it (it only applies to joins), but the
  per-group work is row_number over one sorted partition: LINEAR in the
  group, so a 10% hot group costs ~10% of one task's rows, not a
  quadratic blowup. Expect skewed ≈ uniform wall.
* lsh_candidate_groups: pure groupBy count — partial aggregation
  absorbs the hot bucket map-side. Expect skewed ≈ uniform.
* lsh_verified_pairs: pair expansion IS quadratic per bucket — the
  max_bucket guard exists precisely for this corpus. Expect the guard
  to excise the hot bucket (reported) and the wall to stay in the
  uniform band; without the guard the hot bucket alone would expand
  (HOT_FRAC*N)^2/2 pairs (~12.5M at the defaults here — the run you
  do NOT want at 100 TB).

Usage: python tools/stress_skew.py [K=10] [HOT_FRAC_PCT=10]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ngxspark.dedup import dedup_exact, lsh_candidate_groups, lsh_verified_pairs
from ngxspark.session import get_spark
from ngxspark.textops import dedup_segments

K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
HOT_PCT = int(sys.argv[2]) if len(sys.argv) > 2 else 10
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HOT_PHRASE = "boilerplate token {} of the shared navigation chrome footer"
# the guard under test: timed in lsh_verified_pairs and audited below
MAX_BUCKET = 50


def hot_text(length: int) -> str:
    """The shared boilerplate, padded to ``length`` chars so the skewed
    twin carries the same text bytes as the uniform one and the two
    corpora differ only in key skew."""
    words, i = [], 0
    while len(" ".join(words)) < length:
        words.append(HOT_PHRASE.format(i))
        i += 1
    return " ".join(words)[:length]


def main() -> None:
    spark = get_spark(app="stress-skew")
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        .select("doc_id", "text", "source")
        .repartition(32)
    )
    reps = base
    for i in range(1, K):
        reps = reps.unionByName(
            base.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text", "source"
            )
        )
    # uniform: every row's text unique-ified with its id
    uniform = reps.withColumn(
        "text", F.concat(F.col("text"), F.lit(" uniq "), F.col("doc_id"))
    )
    mean_len = uniform.agg(F.avg(F.length("text"))).first()[0]
    hot = hot_text(round(mean_len))
    # skewed: HOT_PCT% of rows share ONE exact text (id % 100 < HOT_PCT
    # is deterministic and spread across replicas/partitions)
    skewed = reps.withColumn(
        "text",
        F.when(F.col("doc_id") % 100 < HOT_PCT, F.lit(hot)).otherwise(
            F.concat(F.col("text"), F.lit(" uniq "), F.col("doc_id"))
        ),
    )
    paths = {}
    for name, df in [("uniform", uniform), ("skewed", skewed)]:
        p = f"/tmp/stress_skew_{os.path.basename(SRC.rstrip('/'))}_x{K}_h{HOT_PCT}_{name}_pad.parquet"
        if not os.path.exists(p):
            # write aside and rename on success: an interrupted write must
            # never leave a partial corpus that later runs reuse
            tmp = p + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            df.repartition(32).write.mode("overwrite").parquet(tmp)
            os.rename(tmp, p)
        paths[name] = p
    corp = {n: spark.read.parquet(p) for n, p in paths.items()}
    n_rows = corp["uniform"].count()
    n_hot = corp["skewed"].filter(F.col("text") == hot).count()
    print(
        f"rows={n_rows} hot_rows={n_hot} ({100.0 * n_hot / n_rows:.1f}%) "
        f"hot_len={len(hot)} mean_len={mean_len:.0f}",
        flush=True,
    )

    ops = {
        "dedup_exact": lambda d: dedup_exact(d),
        "dedup_segments": lambda d: dedup_segments(d),
        "lsh_candidate_groups": lambda d: lsh_candidate_groups(d),
        "lsh_verified_pairs_guarded": lambda d: lsh_verified_pairs(d, max_bucket=MAX_BUCKET),
    }
    for op_name, fn in ops.items():
        row = {}
        for corpus_name in ("uniform", "skewed"):
            secs = []
            for _ in range(2):
                spark.sparkContext.setJobDescription(f"skew:{op_name}:{corpus_name}")
                t0 = time.perf_counter()
                fn(corp[corpus_name]).write.format("noop").mode("overwrite").save()
                secs.append(round(time.perf_counter() - t0, 2))
            row[corpus_name] = min(secs)
        ratio = round(row["skewed"] / row["uniform"], 2)
        print(f"{op_name}: uniform={row['uniform']} skewed={row['skewed']} ratio={ratio}", flush=True)

    # guard audit: what did max_bucket excise on the skewed corpus?
    excluded = (
        lsh_candidate_groups(corp["skewed"]).filter(F.col("n_docs") > MAX_BUCKET).collect()
    )
    print(
        f"guard: {len(excluded)} bucket(s) over max_bucket={MAX_BUCKET} excluded; "
        f"sizes={sorted((r['n_docs'] for r in excluded), reverse=True)[:8]}",
        flush=True,
    )


if __name__ == "__main__":
    main()
