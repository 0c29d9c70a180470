"""ngxspark — a PySpark-native log/telemetry parse → enrich → route → aggregate engine.

Generalizes nginx ``log_format``-directive parsing (semantics of the Go
reference tr3ee/ngx-go) into a compiled, vectorized extraction stage over
Spark DataFrames, plus the relational layer a 10^12-turn transcript pipeline
needs: lookup enrichment, predicate routing to fan-out sinks, salted
windowed aggregation, checkpoint-resume, and training-data operators
(dedup, similarity search, text analysis).

Layout:
  fmtcompile  — log_format template → op-program (reference: compile.go)
  escapes     — escape/unescape kernels for the 3 dialects (reference: escape.go)
  oracle      — single-line reference interpreter, ground truth
                (reference: codec_struct.go / codec_map.go / codec.go)
  plan        — op-program → anchored regex + typed cast plan
  parse       — vectorized Spark parse stage (Arrow-batched pandas UDF)
  render      — record → line (Marshal direction) as JVM-side expressions
  gen         — deterministic synthetic transcript generator
  sources     — Iceberg/parquet read, stream and write dispatch
  session     — SparkSession builder tuned for the pipeline
  enrich      — literal-map lookups + broadcast GeoIP range join
  route       — match/status-class routing + fan-out sinks
  aggregate   — salted two-phase aggregates, windows, conversation ordering
  pipeline    — the flagship parse → enrich → route → aggregate flow
  plankit     — plan-shaping barriers shared across operator modules
  runner      — checkpoint-resume manifest + per-partition lineage/metrics
  textops     — language-id, quality scoring, token counts, fingerprinting
  dedup       — exact / minhash-LSH / simhash / n-gram-jaccard / Bloom dedup
  simsearch   — brute-force + LSH-bucketed cosine similarity search
  retrieval   — BM25 lexical retrieval (fixed-point exact scoring)
  multimodal  — binary media column plumbing
  mediacodec  — stdlib + numpy PNG / WAV decode and encode kernels
  streaming   — only what a batch operator cannot do on a stream: watermarks,
                state stores, foreachBatch fan-out, the memory-sink drain
                (stateless batch operators run on a stream unchanged)
  curation    — composed corpus-curation pipeline (single-plan + staged)
  queries     — the 85-query driver/oracle gate contract
"""

from ngxspark.fmtcompile import (  # noqa: F401
    COMBINED_FMT,
    FormatError,
    LogFormat,
    compile_format,
)

__version__ = "0.1.0"
