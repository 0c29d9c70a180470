"""Self-test of the perfbench input generators and checks.

    python3 perfbench/selftest.py

Four cases: the same seed gives an identical input digest; another seed
gives a different digest; on a tiny input, the sink counts derived from
the generator's labels equal the pipeline's; and an ops_dedup pass drops
every planted exact copy. Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"selftest ok: {what}", flush=True)


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import inputs

    mix = inputs.TX_MIXES["tx_dirty_sinks"]
    a, _ = inputs.transcripts(3000, 7, mix)
    b, _ = inputs.transcripts(3000, 7, mix)
    c, _ = inputs.transcripts(3000, 8, mix)
    check(inputs.digest(a) == inputs.digest(b), "same seed, same transcript digest")
    check(inputs.digest(a) != inputs.digest(c), "other seed, other transcript digest")
    da, db, dc = (inputs.documents(500, 20, 20, s) for s in (7, 7, 8))
    check(inputs.digest(da) == inputs.digest(db), "same seed, same documents digest")
    check(inputs.digest(da) != inputs.digest(dc), "other seed, other documents digest")

    from run import start_spark, stop_spark, use_tmp_under
    from spans import NullTracer
    from workloads import CheckError, OpsDedup

    from ngxspark.pipeline import parse_enrich_route
    from ngxspark.sources import read_transcripts

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest_") as work:
        use_tmp_under(work)
        spark = start_spark(work)
        try:
            for name, mix in inputs.TX_MIXES.items():
                path = os.path.join(work, name)
                expected = inputs.write_transcripts(path, 3000, 7, mix, 2)
                got = dict(
                    parse_enrich_route(read_transcripts(spark, path)).groupBy("sink").count().collect()
                )
                want = {s: n for s, n in expected["sinks"].items() if n}
                check(got == want, f"{name}: label sink counts {want} equal the pipeline's {got}")

            wl = OpsDedup(spark, os.path.join(work, "dedup"), 7)
            wl.n_base, wl.n_exact, wl.n_near = 2000, 100, 100
            wl.setup()
            try:
                wl.run_pass(NullTracer())  # its check counts surviving planted copies
                failure = None
            except CheckError as e:
                failure = str(e)
            check(failure is None, f"ops_dedup drops every planted exact copy ({failure or 'none left'})")
        finally:
            stop_spark(spark)


if __name__ == "__main__":
    main()
