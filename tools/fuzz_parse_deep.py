"""Deep fuzz: random formats (all dialects) x random typed bindings x
adversarial lines, the pattern the JVM tier runs (plus the oracle UDF body)
vs the pure-Python oracle. Scaled-up version of
tests/test_parse_vectorized.py::test_random_format_differential.

Usage: python tools/fuzz_parse_deep.py [seed=31337] [n_formats=400] [n_lines=250]
"""
import random
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from ngxspark.fmtcompile import compile_format
from tests.test_parse_vectorized import (
    assert_differential_map,
    assert_differential_struct,
)

seed = int(sys.argv[1]) if len(sys.argv) > 1 else 31337
n_formats = int(sys.argv[2]) if len(sys.argv) > 2 else 400
n_lines = int(sys.argv[3]) if len(sys.argv) > 3 else 250
random.seed(seed)

lit_chars = list('ab"\\x un0:,-/ ')
var_names = ["a", "b", "c", "d"]
TYPES = ["string", "int", "int8", "uint", "uint64", "bool", "byte", "bytes", "int64", "uint16"]

def rand_format():
    esc = random.choice(["", "", "escape=json;", "escape=none;"])
    parts = []
    for _ in range(random.randint(1, 6)):
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

alpha = list('ab"\\x un0:,-/ ') + [
    "\\\\", '\\"', "\\x41", "\\x8", "\\n", "\\u0041", "\\q", "\\/",
    "0", "1", "-1", "255", "256", "true", "True", "9223372036854775807",
    "18446744073709551615", "18446744073709551616", " ",
]

tested = cases = 0
while tested < n_formats:
    fs = rand_format()
    try:
        compile_format(fs)
    except Exception:
        continue
    tested += 1
    lines = ["".join(random.choice(alpha) for _ in range(random.randint(0, 14))) for _ in range(n_lines)]
    assert_differential_map(fs, lines)
    bindings = {v: random.choice(TYPES) for v in var_names if random.random() < 0.8}
    try:
        assert_differential_struct(fs, bindings, lines)
    except (ValueError, KeyError) as e:
        # unsupported binding combos raise at plan build — skip, not a diff
        if "unsupported" in str(e).lower() or isinstance(e, KeyError):
            continue
        raise
    cases += 2 * n_lines
    if tested % 50 == 0:
        print(f"{tested} formats, ~{cases} cases, 0 diffs", flush=True)
print(f"DONE: {tested} formats, ~{cases} differential cases, 0 diffs")
