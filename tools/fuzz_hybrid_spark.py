"""Deep Spark-level hybrid-vs-arrow fuzz with RANDOM formats and random
typed struct bindings (the in-suite versions run 7 fixed formats in map
mode and 8 random formats). Executes the hybrid engine's one JVM path
(_jvm_parts incl. line_bs short-circuit, _jvm_unescape, _jvm_cast)
against the Arrow engine.

Usage: python tools/fuzz_hybrid_spark.py [seed=99] [n_formats=60]"""
import random
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from ngxspark.fmtcompile import compile_format
from ngxspark.plan import plan_map, plan_struct
from ngxspark.parse import parse_lines
from ngxspark.session import get_spark

seed = int(sys.argv[1]) if len(sys.argv) > 1 else 99
n_formats = int(sys.argv[2]) if len(sys.argv) > 2 else 60
random.seed(seed)

spark = get_spark(app="hybrid-fuzz", cores=8, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

lit_chars = list('ab"\\x un0:,-/ ')
var_names = ["a", "b", "c"]
TYPES = ["string", "int", "uint", "bool", "byte", "int8", "uint64", "bytes"]
alpha = list('ab\\"x "-!:n41 \t') + [
    "\\\\", '\\"', "\\x41", "\\x8", "\\xZZ", '" "', "-", "\\/", "\\n",
    "\\u0041", "\\ud83c", "\\udf09", "\\q", '":"', "0", "255", "true",
    "18446744073709551615", "\x01",
]

def rand_format():
    esc = random.choice(["", "", "escape=json;", "escape=none;"])
    parts = []
    for _ in range(random.randint(1, 5)):
        r = random.random()
        if r < 0.45:
            parts.append("$" + random.choice(var_names))
        elif r < 0.55:
            parts.append("${" + random.choice(var_names) + "}")
        elif r < 0.6:
            parts.append("$$")
        else:
            parts.append("".join(random.choice(lit_chars) for _ in range(random.randint(1, 3))))
    return esc + "".join(parts)

def norm(rows):
    return sorted(repr(tuple((k, r[k]) for k in sorted(r.asDict()))) for r in rows)

tested = 0
while tested < n_formats:
    fs = rand_format()
    try:
        fmt = compile_format(fs)
    except Exception:
        continue
    lines = ["".join(random.choice(alpha) for _ in range(random.randint(0, 14))) for _ in range(200)]
    lines.append(None)
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    for mode in ("map", "struct"):
        if mode == "map":
            plan = plan_map(fmt)
        else:
            bindings = {v: random.choice(TYPES) for v in var_names if random.random() < 0.8}
            try:
                plan = plan_struct(fmt, bindings)
            except Exception:
                continue
        a = norm(parse_lines(df, plan, engine="arrow").collect())
        h = norm(parse_lines(df, plan, engine="hybrid").collect())
        assert a == h, f"ENGINE DIVERGENCE fmt={fs!r} mode={mode}"
    tested += 1
    if tested % 20 == 0:
        print(f"{tested} formats ok", flush=True)
print(f"DONE: {tested} random formats x 201 lines x 2 modes, hybrid == arrow")
