"""Dead-code guard: every public top-level function and class in the package
must be reached from somewhere other than its own definition.

A name counts as reached when it appears as a whole word in any other
``.py`` file of the repo, or in its own module outside the lines of its
definition. Decorated definitions are skipped: the decorator (a registry, a
stage label) is itself the reference. No Spark session is started."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "extract_address_ner_spark")


def _py_files(top: str) -> list[str]:
    out = []
    for d, subdirs, files in os.walk(top):
        subdirs[:] = [s for s in subdirs
                      if not s.startswith(".") and s != "__pycache__"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _public_definitions(path: str, source: str):
    for node in ast.parse(source, filename=path).body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
                and not node.name.startswith("_")
                and not node.decorator_list):
            yield node.name, node.lineno, node.end_lineno


def test_every_public_definition_is_referenced():
    sources = {}
    for p in _py_files(ROOT):
        with open(p, encoding="utf-8") as f:
            sources[p] = f.read()
    unreached = []
    for path in _py_files(PACKAGE):
        own_lines = sources[path].splitlines()
        for name, first, last in _public_definitions(path, sources[path]):
            word = re.compile(rf"\b{re.escape(name)}\b")
            outside_def = "\n".join(own_lines[:first - 1] + own_lines[last:])
            if word.search(outside_def) or any(
                word.search(text) for p, text in sources.items() if p != path
            ):
                continue
            unreached.append(f"{os.path.relpath(path, ROOT)}:{first} {name}")
    assert not unreached, (
        "public definitions nothing references (delete them, or call them):\n"
        + "\n".join(unreached)
    )
