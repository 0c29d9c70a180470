"""Source lints that read the repo's modules with ``ast`` (nothing is
imported or run)."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(
    os.path.relpath(p, ROOT)
    for d in ("ngxspark", "tests", "tools")
    for p in glob.glob(os.path.join(ROOT, d, "*.py"))
)


def shadowed_definitions(source: str) -> list[tuple[str, int, int]]:
    """(name, first line, redefining line) for every top-level function or
    class defined again later in the same module: the later definition
    silently replaces the earlier one, so a shadowed test never runs."""
    seen, out = {}, []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                out.append((node.name, seen[node.name], node.lineno))
            else:
                seen[node.name] = node.lineno
    return out


def test_no_shadowed_top_level_definitions():
    src = "def f():\n    pass\n\nclass C:\n    pass\n\ndef f():\n    pass\n"
    assert shadowed_definitions(src) == [("f", 1, 7)]
    assert shadowed_definitions("def f():\n    def f():\n        pass\n") == []

    found = {}
    for path in MODULES:
        with open(os.path.join(ROOT, path)) as f:
            if hits := shadowed_definitions(f.read()):
                found[path] = hits
    assert len(MODULES) > 30
    assert found == {}
