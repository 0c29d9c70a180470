"""The traced run: per-layer metrics, tracing overhead and the span file.

It alternates traced and untraced passes. After each traced pass,
outside its timing, it reads the pass's jobs, tasks and SQL metrics. After
the passes it runs the workload's prefix cuts, once untimed and then
``CUT_ROUNDS`` times, and takes each cut's median. A prefix layer's self
time is its cut minus the previous cut. An action that re-runs a prefix
(each of tx_agg's four aggregates re-runs the route prefix) leaves a
residual layer: the action's span minus the prefix cut once per re-run.

Self-time sum check: the layer self times, each weighted by how many times
the pass runs that layer, plus the spans that are no layer (DataFrame
building, planning, the result check) must add up to the pass wall time
within ``SUM_TOLERANCE``, and no residual may read below zero by more than
that share of the pass. The residuals take up what the cuts leave, so the
sum misses when the spans do not cover the pass, and a residual goes
negative when the cuts attribute more than the pass spends: a prefix cut
dearer than the pass's re-runs of it. A pass that fails the check makes
the run incorrect.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

import proctree
from spans import NullTracer, SparkProbe, Tracer, busy_seconds, log

# A timed cut wanders 5-15 % from round to round, and tx_agg's route cut
# counts four times (about 8 s of a 9-12 s pass), so a residual near zero
# can read a few tenths of a second below it. Cuts that attribute a whole
# extra re-run, or run colder or wider than the pass, read further below.
SUM_TOLERANCE = 0.10
MIN_TRACED = 2
CUT_ROUNDS = 2

# (name, unit) of every per-layer metric, in BENCHMARK.json order
LAYER_METRICS = [
    ("pipeline.build_s", "s"), ("spark.plan_s", "s"), ("spark.jobs", "count"),
    ("spark.tasks", "count"), ("spark.gap_s", "s"), ("jvm.cpu_s", "s"), ("python.cpu_s", "s"),
    ("jvm.gc_s", "s"), ("sources.read_s", "s"), ("parse.self_s", "s"), ("parse.udf_evals", "count"),
    ("parse.arrow_rows", "count"), ("parse.arrow_bytes", "B"), ("parse.tail_rows", "count"),
    ("parse.arrow_useful_ratio", "1"), ("parse.rejected_rows", "count"), ("enrich.self_s", "s"),
    ("enrich.broadcast_bytes", "B"), ("route.self_s", "s"), ("aggregate.self_s", "s"),
    ("aggregate.shuffle_bytes", "B"), ("dedup.exact_s", "s"), ("dedup.lsh_s", "s"),
    ("dedup.cc_s", "s"), ("dedup.repr_s", "s"), ("dedup.cc_jobs", "count"),
    ("dedup.lsh_shuffle_bytes", "B"), ("dedup.lsh_candidate_pairs", "count"),
    ("dedup.lsh_verified_pairs", "count"), ("dedup.lsh_useful_ratio", "1"),
    ("dedup.kept_docs", "count"), ("trace.overhead_s", "s"), ("trace.unattributed_ratio", "1"),
]


def _sum_metric(nodes, op: str, *names: str) -> float:
    return sum(m.get(n, 0.0) for name, m in nodes if name == op for n in names)


def _cut(probe: SparkProbe, df) -> tuple[float, list]:
    first = probe.execution_count()
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t
    probe.drain()
    return wall, probe.sql_nodes(first)


def _run_cuts(wl, probe: SparkProbe) -> tuple[dict[str, list[float]], dict[str, list]]:
    """Wall seconds of every round of each prefix cut, and the operators
    (with SQL metrics) of each cut's last round."""
    walls: dict[str, list[float]] = {}
    nodes: dict[str, list] = {}
    # the first round is untimed: it warms the cut queries as the warm-up
    # passes warmed the pass
    for r in range(CUT_ROUNDS + 1):
        for name, df in wl.cut_frames():
            wall, nodes[name] = _cut(probe, df)
            if r:
                walls.setdefault(name, []).append(wall)
    return walls, nodes


def _attribute(wl, tr, pid, res, nodes, cut, cut_nodes, lsh_counts):
    """Per-layer values of one traced pass, the terms its wall time splits
    into as (name, times the pass runs it, seconds), and the names of the
    residual layers."""
    span = lambda name: tr.total(pid, name)  # noqa: E731
    out = {"sources.read_s": cut["read"]}
    terms = [("sources.build", 1, span("sources.build")), ("spark.plan", 1, span("spark.plan")),
             ("check", 1, span("check"))]
    if wl.name in ("tx_agg", "tx_dirty_sinks"):
        read, parse, enrich, route = (cut[k] for k in ("read", "parse", "enrich", "route"))
        arrow = [m for name, m in nodes if name == "ArrowEvalPython"]
        arrow_rows = sum(m.get("number of output rows", 0.0) for m in arrow)
        out.update({
            "parse.self_s": parse - read,
            "parse.udf_evals": len(arrow),
            "parse.arrow_rows": arrow_rows,
            "parse.arrow_bytes": _sum_metric(
                nodes, "ArrowEvalPython",
                "data sent to Python workers", "data returned from Python workers",
            ),
            "parse.tail_rows": wl.tail_rows,
            # share of the rows crossing into Python that needed the tail:
            # label tail rows once per UDF evaluation / rows the UDF returned
            "parse.arrow_useful_ratio": wl.tail_rows * len(arrow) / arrow_rows if arrow_rows else 0.0,
            "parse.rejected_rows": res["rejected_rows"],
            "enrich.self_s": enrich - parse,
            "enrich.broadcast_bytes": _sum_metric(nodes, "BroadcastExchange", "data size"),
            "route.self_s": route - enrich,
        })
        # every run of the prefix scans the input once
        reruns = sum(1 for name, _ in nodes if name == "Scan parquet") or 1
        terms.append(("pipeline.build", 1, span("pipeline.build")))
        terms += [(k, reruns, out[k])
                  for k in ("sources.read_s", "parse.self_s", "enrich.self_s", "route.self_s")]
        if wl.name == "tx_agg":
            out["aggregate.self_s"] = span("aggregate.collect") - reruns * route
            out["aggregate.shuffle_bytes"] = _sum_metric(nodes, "Exchange", "data size")
            residuals = ["aggregate.self_s"]
        else:
            # tx_dirty_sinks is not in BENCHMARK.json: these go to the trace file
            files, size = wl.sink_files()
            out.update({
                "route.write_s": span("route.write"),
                "route.write_self_s": span("route.write") - reruns * route,
                "route.sink_bytes": size,
                "route.sink_files": files,
            })
            residuals = ["route.write_self_s"]
        terms += [(k, 1, out[k]) for k in residuals]
    else:
        read, exact, lsh = (cut[k] for k in ("read", "exact", "lsh"))
        cand, verified = lsh_counts
        out.update({
            "dedup.exact_s": exact - read,
            "dedup.lsh_s": lsh - exact,
            # the first eager job inside connected_components materializes
            # the verified pairs, so the call re-runs the lsh prefix once
            "dedup.cc_s": span("dedup.cc_call") - lsh,
            # the final action re-runs the exact-dedup prefix
            "dedup.repr_s": span("dedup.repr_collect") - exact,
            "dedup.lsh_shuffle_bytes": _sum_metric(cut_nodes["lsh"], "Exchange", "data size"),
            "dedup.lsh_candidate_pairs": cand,
            "dedup.lsh_verified_pairs": verified,
            "dedup.lsh_useful_ratio": verified / cand if cand else 0.0,
            "dedup.kept_docs": res["kept_docs"],
        })
        terms += [
            ("pipeline.build - dedup.cc_call", 1, span("pipeline.build") - span("dedup.cc_call")),
            ("sources.read_s", 2, read), ("dedup.exact_s", 2, out["dedup.exact_s"]),
            ("dedup.lsh_s", 1, out["dedup.lsh_s"]), ("dedup.cc_s", 1, out["dedup.cc_s"]),
            ("dedup.repr_s", 1, out["dedup.repr_s"]),
        ]
        residuals = ["dedup.cc_s", "dedup.repr_s"]
    return out, terms, residuals


def _untraced_pass(spark, wl, i: int) -> float | None:
    """Wall seconds of one untraced pass, or None if it failed."""
    wl.before_pass()
    spark.sparkContext.setJobGroup(f"untraced{i}", f"untraced{i}")
    t = time.perf_counter()
    try:
        wl.run_pass(NullTracer())
    except Exception:  # counted as a failed pass
        log("untraced pass failed:\n" + traceback.format_exc())
        return None
    return time.perf_counter() - t


def _traced_pass(spark, wl, probe: SparkProbe, tr: Tracer, i: int) -> dict | None:
    """One traced pass and (untimed) the counts Spark kept for it, or None
    if it failed."""
    pid = f"p{i}"
    wl.before_pass()
    probe.drain()
    first_exec, gc0 = probe.execution_count(), probe.gc_seconds()
    cpu0 = proctree.cpu_split(proctree.snapshot())
    tr.begin_pass(pid)
    w0 = time.time()
    try:
        with tr.span("pass"):
            res = wl.run_pass(tr)
    except Exception:  # counted as a failed pass
        log("traced pass failed:\n" + traceback.format_exc())
        return None
    w1 = time.time()
    cpu1 = proctree.cpu_split(proctree.snapshot())
    spark.sparkContext.setJobGroup(f"probe{i}", f"probe{i}")
    probe.drain()
    gc = probe.gc_seconds() - gc0
    jobs = probe.jobs(tr.groups)
    job_recs = probe.job_records(jobs)
    busy = busy_seconds([(j["start"], j["end"]) for j in job_recs], w0, w1)

    wall = w1 - w0
    top = [s for s in tr.spans if s["pass"] == pid and s["parent"] is not None
           and tr.spans[s["parent"]]["name"] == "pass"]
    covered = sum(s["end"] - s["start"] for s in top)
    layers = {
        "pipeline.build_s": tr.total(pid, "pipeline.build"),
        "spark.plan_s": tr.total(pid, "spark.plan"),
        "spark.jobs": len(jobs),
        "spark.tasks": probe.tasks(jobs),
        "spark.gap_s": wall - busy,
        "jvm.cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "python.cpu_s": cpu1["python"] - cpu0["python"],
        "jvm.gc_s": gc,
        "trace.unattributed_ratio": (wall - covered) / wall,
    }
    if wl.name == "ops_dedup":
        layers["dedup.cc_jobs"] = len(probe.jobs([f"{pid}:cc"]))
    return {
        "pass": pid,
        "wall_s": wall,
        "result": res,
        "jobs": job_recs,
        "layers": layers,
        "sql_operators": probe.sql_nodes(first_exec),
    }


def _complete(rec: dict, wl, tr: Tracer, cut: dict, cut_nodes: dict, lsh_counts) -> bool:
    """Add the layers the cuts attribute and the self-time sum check to a
    pass record; True if the check holds."""
    layers, terms, residuals = _attribute(
        wl, tr, rec["pass"], rec.pop("result"), rec["sql_operators"], cut, cut_nodes, lsh_counts
    )
    rec["layers"].update(layers)
    wall = rec["wall_s"]
    total = sum(n * v for _, n, v in terms)
    # a residual below zero means the cuts attribute more time than the
    # pass spent running them
    too_low = [k for k in residuals if layers[k] < -SUM_TOLERANCE * wall]
    ok = abs(wall - total) <= SUM_TOLERANCE * wall and not too_low
    rec["sum_check"] = {
        "terms": [{"name": k, "runs": n, "s": v} for k, n, v in terms],
        "sum_s": total,
        "pass_s": wall,
        "tolerance": SUM_TOLERANCE,
        "residuals_below_bound": too_low,
        "ok": ok,
    }
    return ok


def traced_run(spark, wl, seconds: float, out_dir: str) -> dict:
    probe = SparkProbe(spark)
    tr = Tracer(spark)
    lsh_counts = None
    if wl.name == "ops_dedup":
        spark.sparkContext.setJobGroup("lsh-counts", "lsh-counts")
        lsh_counts = wl.lsh_counts()
    untraced, records, failed = [], [], 0
    t_start = time.perf_counter()
    i = 0
    while True:
        # traced and untraced passes alternate, traced first and last, so
        # each untraced pass sits between two traced ones and steady
        # warm-up drift does not read as tracing overhead
        if i % 2:
            rec = _untraced_pass(spark, wl, i)
            untraced += [rec] if rec is not None else []
        else:
            rec = _traced_pass(spark, wl, probe, tr, i)
            records += [rec] if rec else []
        failed += rec is None
        i += 1
        if i % 2 and time.perf_counter() - t_start >= seconds and (
            len(records) >= MIN_TRACED or failed
        ):
            break

    spark.sparkContext.setJobGroup("cuts", "cuts")
    cut_walls, cut_nodes = _run_cuts(wl, probe)
    cut = {k: statistics.median(v) for k, v in cut_walls.items()}
    sums_ok = [_complete(r, wl, tr, cut, cut_nodes, lsh_counts) for r in records]

    traced_walls = [r["wall_s"] for r in records]
    overhead = (statistics.median(traced_walls) - statistics.median(untraced)
                if traced_walls and untraced else 0.0)
    per_layer = {}
    for name, unit in LAYER_METRICS:
        vals = [r["layers"][name] for r in records if name in r["layers"]]
        if name == "trace.overhead_s":
            vals = [overhead]
        per_layer[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-seed{wl.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": wl.name,
            "seed": wl.seed,
            "input_rows": wl.rows,
            "untraced_pass_s": untraced,
            "traced_pass_s": traced_walls,
            "tracing_overhead_s": overhead,
            "cuts_s": cut_walls,
            "passes": records,
            "spans": tr.spans,
        }, f, indent=1)
    log(f"{wl.name}: trace written to {path}")
    log(f"cuts (s, {CUT_ROUNDS} rounds): " + ", ".join(
        f"{k} {[round(v, 3) for v in vs]}" for k, vs in cut_walls.items()))
    for r in records:
        check = r["sum_check"]
        log(f"{r['pass']}: wall {r['wall_s']:.2f} s, weighted layer sum {check['sum_s']:.2f} s, "
            f"residuals below the bound {check['residuals_below_bound']}, "
            f"sum check {'ok' if check['ok'] else 'FAILED'}")
    for name, _ in LAYER_METRICS:
        log(f"  {name} = {per_layer[name]['value']:.6g} {per_layer[name]['unit']}")
    attempted = len(records) + len(untraced) + failed
    return {
        "correct": failed == 0 and bool(records) and all(sums_ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": per_layer,
    }
