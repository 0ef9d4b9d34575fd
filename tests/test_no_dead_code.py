"""Every public top-level function and class in the package is used.

A name counts as used when another Python file in the repo mentions it
(the package, ``jobs/``, ``tools/``, ``tests/``, ``perfbench/``,
``__spark_entry__.py``, ``bench.py``), or when code of its own module
outside its definition refers to it. Docstrings, comments, string
constants and recursive calls inside the definition do not count. An
unreferenced helper is deleted, or gets a test.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "social_media_pii_scrubber_spark"
SOURCES = [PKG, REPO / "jobs", REPO / "tools", REPO / "tests",
           REPO / "perfbench", REPO / "__spark_entry__.py", REPO / "bench.py"]


def _py_files():
    for src in SOURCES:
        yield from ([src] if src.is_file() else sorted(src.rglob("*.py")))


def _code_refs(nodes):
    """Names that code in ``nodes`` refers to (not strings or comments)."""
    return {n.id if isinstance(n, ast.Name) else n.attr
            for node in nodes for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def test_every_public_definition_is_referenced():
    words = {p: set(re.findall(r"\w+", p.read_text())) for p in _py_files()}
    unused = []
    for mod in sorted(PKG.rglob("*.py")):
        body = ast.parse(mod.read_text()).body
        elsewhere = set().union(*(w for p, w in words.items() if p != mod))
        for node in body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")
                    and node.name not in elsewhere
                    and node.name not in _code_refs(
                        n for n in body if n is not node)):
                unused.append(f"{mod.relative_to(REPO)}:{node.name}")
    assert not unused, unused
