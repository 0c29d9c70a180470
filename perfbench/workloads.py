"""The three perfbench workloads: set-up, one pass, and the pass's check.

A pass goes from the input files to a checked result through the public
functions of ngxspark, exactly as a user would call them. ``run_pass``
wraps each call in a tracer span (a no-op when untraced); ``cut_frames``
gives the traced run's prefix cuts, which it materializes with the
``noop`` writer so that a layer's self time is its cut minus the previous
cut.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import functions as F

import inputs
from ngxspark.dedup import (
    cluster_representatives,
    connected_components,
    dedup_exact,
    lsh_candidate_groups,
    lsh_verified_pairs,
)
from ngxspark.enrich import enrich_all
from ngxspark.parse import parse_lines
from ngxspark.pipeline import combined_plan, parse_enrich_route, pipeline_aggregates
from ngxspark.route import route, write_fanout
from ngxspark.sources import read_transcripts
from ngxspark.textops import quality_score


class CheckError(AssertionError):
    """A pass returned a wrong result."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckError(what)


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


class Workload:
    name = ""
    n_files = 8

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.input = os.path.join(work_dir, "input")
        self.work_dir = work_dir
        self.rows = 0
        self.reference: str | None = None  # output digest of the first pass

    def same_as_first(self, digest: str) -> None:
        if self.reference is None:
            self.reference = digest
        _expect(digest == self.reference, "output digest differs from the first pass")

    def before_pass(self) -> None:
        """Untimed preparation for the next pass."""


# routed columns that pipeline_aggregates reads, and the input columns the
# enrich joins and the status class need on the way there
AGG_COLS = ["sink", "role", "status_class", "conv_id", "turn_idx", "ts", "_matched"]
AGG_CARRY = AGG_COLS + ["tool", "status"]


class _Transcripts(Workload):
    """Shared set-up and prefix cuts of the transcript workloads."""

    n_rows = 0
    # columns each cut after the read keeps (None: all of them), so that a
    # cut runs what the pass re-runs of that prefix after column pruning
    carry: list[str] | None = None

    def setup(self) -> None:
        self.expected = inputs.write_transcripts(
            self.input, self.n_rows, self.seed, inputs.TX_MIXES[self.name], self.n_files
        )
        self.rows = self.expected["rows"]
        self.tail_rows = sum(self.expected["labels"].get(x, 0) for x in inputs.TAIL_LABELS)

    def cut_frames(self) -> list:
        """(name, DataFrame) of each prefix cut, in pipeline order."""
        src = read_transcripts(self.spark, self.input)
        parsed = parse_lines(src, combined_plan())
        enriched = enrich_all(parsed)
        routed = route(enriched)

        def keep(df):
            if self.carry is None:
                return df
            return df.select(*[c for c in df.columns if c in self.carry])

        return [("read", src), ("parse", keep(parsed)), ("enrich", keep(enriched)),
                ("route", keep(routed))]


class TxAgg(_Transcripts):
    name = "tx_agg"
    n_rows = 100_000
    carry = AGG_CARRY

    def run_pass(self, tr) -> dict:
        with tr.span("sources.build"):
            src = read_transcripts(self.spark, self.input)
        with tr.span("pipeline.build"):
            aggs = pipeline_aggregates(parse_enrich_route(src))
        out = {}
        for name, df in aggs.items():
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("aggregate.collect"):
                out[name] = [tuple(r) for r in df.collect()]
        with tr.span("check"):
            self.check(out)
        return {"rejected_rows": dict(out["per_sink"]).get("reject", 0)}

    def check(self, out: dict) -> None:
        want = {s: n for s, n in self.expected["sinks"].items() if n}
        _expect(dict(out["per_sink"]) == want, f"per_sink {out['per_sink']} != labels {want}")
        matched = self.rows - self.expected["sinks"]["reject"]
        for name, total in (
            ("per_sink", self.rows),
            ("by_role_status", self.rows),
            ("by_conv_bucket", self.rows),
            ("by_window", matched),
        ):
            got = sum(r[-1] for r in out[name])
            _expect(got == total, f"{name} cnt sums to {got}, expected {total}")
        self.same_as_first(_digest(out))


class TxDirtySinks(_Transcripts):
    name = "tx_dirty_sinks"
    n_rows = 100_000

    def before_pass(self) -> None:
        shutil.rmtree(self.sink_dir, ignore_errors=True)

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.work_dir, "sinks")

    def run_pass(self, tr) -> dict:
        with tr.span("sources.build"):
            src = read_transcripts(self.spark, self.input)
        with tr.span("pipeline.build"):
            routed = parse_enrich_route(src)
        with tr.span("route.write"):
            counts = write_fanout(routed, self.sink_dir)
        with tr.span("check"):
            want = dict(self.expected["sinks"], total=self.rows)
            _expect(counts == want, f"write_fanout counts {counts} != labels {want}")
        return {"rejected_rows": counts["reject"]}

    def sink_files(self) -> tuple[int, int]:
        """(files, bytes) of parquet data the last pass wrote."""
        files = size = 0
        for root, _, names in os.walk(self.sink_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size


class OpsDedup(Workload):
    name = "ops_dedup"
    n_base, n_exact, n_near = 10_000, 250, 250

    def setup(self) -> None:
        inputs.write_documents(
            self.input, self.n_base, self.n_exact, self.n_near, self.seed, self.n_files
        )
        self.rows = self.n_base + self.n_exact + self.n_near
        self.kept: int | None = None

    def _read(self):
        return self.spark.read.parquet(self.input)

    def run_pass(self, tr) -> dict:
        with tr.span("sources.build"):
            docs = self._read()
        with tr.span("pipeline.build"):
            with tr.span("dedup.exact_build"):
                uniq = dedup_exact(docs)
            with tr.span("dedup.lsh_build"):
                pairs = lsh_verified_pairs(uniq)
            with tr.job_group("cc"), tr.span("dedup.cc_call"):
                clusters = connected_components(uniq, pairs)
            with tr.span("dedup.repr_build"):
                scored = uniq.select("doc_id", quality_score(F.col("text")).alias("score"))
                reps = cluster_representatives(clusters, scored)
                exact_lo, exact_hi = self.n_base, self.n_base + self.n_exact
                summary = reps.agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.sum(F.col("keep").cast("long")).alias("kept"),
                    F.sum(F.col("doc_id").between(exact_lo, exact_hi - 1).cast("long")).alias(
                        "exact_copies_left"
                    ),
                    F.sum(
                        F.xxhash64("doc_id", "cluster_id", "score", "keep").cast("decimal(38,0)")
                    ).alias("digest"),
                )
        with tr.span("spark.plan"):
            summary._jdf.queryExecution().executedPlan()
        with tr.span("dedup.repr_collect"):
            row = summary.collect()[0]
        with tr.span("check"):
            self.check(row)
        return {"kept_docs": row["kept"]}

    def check(self, row) -> None:
        left = row["exact_copies_left"]
        _expect(left == 0, f"{left} planted exact copies survived dedup")
        _expect(row["docs"] <= self.rows - self.n_exact, f"{row['docs']} docs after dedup_exact")
        _expect(0 < row["kept"] <= row["docs"], f"kept {row['kept']} of {row['docs']}")
        if self.kept is None:
            self.kept = row["kept"]
        _expect(row["kept"] == self.kept, f"kept {row['kept']} != first pass {self.kept}")
        self.same_as_first(str(tuple(row)))

    def cut_frames(self) -> list:
        docs = self._read()
        uniq = dedup_exact(docs)
        return [("read", docs), ("exact", uniq), ("lsh", lsh_verified_pairs(uniq))]

    def lsh_counts(self) -> tuple[int, int]:
        """(in-band candidate pairs, verified pairs) of the deduplicated corpus."""
        uniq = dedup_exact(self._read())
        groups = lsh_candidate_groups(uniq)
        cand = groups.agg(F.sum(F.col("n_docs") * (F.col("n_docs") - 1) / 2)).collect()[0][0]
        return int(cand or 0), lsh_verified_pairs(uniq).count()


WORKLOADS = {w.name: w for w in (TxAgg, TxDirtySinks, OpsDedup)}
