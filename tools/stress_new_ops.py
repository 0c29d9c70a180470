"""Scale-stress for new operators: replicate the sf0.1 documents (and
embeddings) tables K× (id-shifted copies) into /tmp parquet and time each
op at 1× and K× — the would-it-survive-a-scale-up check (wall time should
grow ~K for scan-dominated one-shuffle shapes; a super-linear jump flags
a hidden quadratic or skew). semdedup runs with n_centroids=None so k
auto-scales with the corpus (the r5 guard contract: per-cell quadratic
stays bounded because k grows with N).

Usage: python tools/stress_new_ops.py [K=20]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ngxspark.dedup import source_overlap
from ngxspark.enrich import enrich_ip_range
from ngxspark.retrieval import bm25_topk, tfidf_topk_terms
from ngxspark.session import get_spark
from ngxspark.simsearch import semantic_decontaminate, semdedup
from ngxspark.textops import (
    gopher_filters,
    langid_trigram,
    ngram_diversity,
    ngram_topk,
    quality_signals,
)

K = int(sys.argv[1]) if len(sys.argv) > 1 else 20
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cache key includes the SOURCE — a different SPARK_GRAFT_SF_DIR must not
# silently reuse another corpus's replication
BIG = f"/tmp/stress_docs_{os.path.basename(SRC.rstrip('/'))}_x{K}.parquet"


def main() -> None:
    spark = get_spark()
    # repartition BOTH sides to 32 — otherwise the 1x side reads one
    # parquet partition and runs on one core, inflating its wall time
    base = (
        spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        .select("doc_id", "text", "source")
        .repartition(32)
    )
    n_base = base.count()
    if not os.path.exists(BIG):
        big = base
        for i in range(1, K):
            big = big.unionByName(
                base.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text", "source"
                )
            )
        big.repartition(32).write.mode("overwrite").parquet(BIG)
    big = spark.read.parquet(BIG)
    n_big = big.count()
    assert n_big == n_base * K, f"stale cache at {BIG}: {n_big} != {n_base}*{K}"
    print(f"base={n_base} docs, big={n_big} docs (K={K})")

    vbase = (
        spark.read.parquet(os.path.join(SRC, "embeddings.parquet")).repartition(32)
    )
    n_vbase = vbase.count()
    VBIG = f"/tmp/stress_vecs_{os.path.basename(SRC.rstrip('/'))}_x{K}.parquet"
    if not os.path.exists(VBIG):
        vbig = vbase
        for i in range(1, K):
            vbig = vbig.unionByName(
                vbase.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                    "embedding",
                    "label",
                )
            )
        vbig.repartition(32).write.mode("overwrite").parquet(VBIG)
    vbig = spark.read.parquet(VBIG)
    assert vbig.count() == n_vbase * K
    print(f"vec base={n_vbase}, big={n_vbase * K}")

    def _with_ips(d):
        k = F.col("doc_id")
        return d.withColumn(
            "remote_addr",
            F.format_string("10.%d.%d.%d", k % 256, (k * 7) % 256, (k * 13) % 254 + 1),
        )

    doc_ops = {
        "gopher_filters": lambda d: gopher_filters(d, min_words=20),
        "quality_signals": quality_signals,
        "ngram_topk": lambda d: ngram_topk(d, n=3, k=20),
        "bm25_topk": lambda d: bm25_topk(d, k=10),
        "langid_trigram": langid_trigram,
        "source_overlap": source_overlap,
        "enrich_ip_range": lambda d: enrich_ip_range(_with_ips(d), "remote_addr"),
        "tfidf_terms": lambda d: tfidf_topk_terms(d, k=5),
        "ngram_diversity": lambda d: ngram_diversity(d, n=2),
    }
    # semdedup: n_centroids=None auto-derives k ∝ N, so per-cell pair work
    # stays bounded as the corpus grows (the r5 cell-guard contract)
    vec_ops = {
        "semdedup_autoK": lambda d: semdedup(d, n_centroids=None),
        # eval side stays the BASE every-50th subset at both scales — the
        # production shape (benchmark is fixed; only the corpus grows)
        "semantic_decontam": lambda d: semantic_decontaminate(
            d, vbase.filter(F.col("vec_id") % 50 == 0), threshold=0.95
        ),
        # the EVAL side scaled K× too — the one axis the fixed-eval row
        # never turns; the BLAS kernel must stay ~flat here
        f"semantic_decontam_eval{K}x": lambda d: semantic_decontaminate(
            d, vbig.filter(F.col("vec_id") % 50 == 0), threshold=0.95
        ),
    }

    for name, fn, small, large in [
        *[(n, f, base, big) for n, f in doc_ops.items()],
        *[(n, f, vbase, vbig) for n, f in vec_ops.items()],
    ]:
        t = {}
        for label, df in (("1x", small), (f"{K}x", large)):
            reps = []
            for _ in range(3):
                t0 = time.time()
                fn(df).count()  # rebuild per rep (AQE cache rule)
                reps.append(time.time() - t0)
            t[label] = sorted(reps)[1]
        ratio = t[f"{K}x"] / max(t["1x"], 1e-9)
        print(
            f"{name}: 1x {t['1x']:.2f}s  {K}x {t[f'{K}x']:.2f}s  "
            f"ratio {ratio:.1f} (linear would be <= {K})"
        )


if __name__ == "__main__":
    main()
