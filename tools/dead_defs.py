"""List the package's top-level functions and classes, and the methods
of the classes in `CLASSES`, that nothing outside `tests/` references.

A definition counts as referenced when its name occurs as a whole word
anywhere outside its own body: in any `.py` file of the repo except
those under `tests/`, in `README.md` or in an `examples/` page. A method
counts as referenced when `.name` occurs there (a whole-word test would
count every `start` or `lookup` in prose). Queries registered through
the registry decorator (`@register(...)`) are skipped: the registry is
their caller. Prints one line per unreferenced definition
(`path:line name lines`, methods as `Class.name`) and the totals last.

    python3 tools/dead_defs.py [--root .]

The result is a list to check by hand, not a verdict: a name reached
only through `getattr` or a string built at run time shows up here.
"""

from __future__ import annotations

import argparse
import ast
import os
import re
from collections import Counter

PACKAGE = "go_pq_cdc_spark"
CLASSES = {"CdcEngine"}
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_ATTR = re.compile(r"\.([A-Za-z_][A-Za-z0-9_]*)")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _corpus(root: str) -> list[str]:
    """Files whose words count as references."""
    out = [os.path.join(root, "README.md")]
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".")
                   and not (d == root and x == "tests")]
        top = os.path.relpath(d, root).split(os.sep)[0]
        for f in files:
            if f.endswith(".py") or (top == "examples" and f.endswith(".md")):
                out.append(os.path.join(d, f))
    return [p for p in out if os.path.isfile(p)]


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        f = dec.func if isinstance(dec, ast.Call) else dec
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "register":
            return True
    return False


def dead_defs(root: str) -> list[tuple[str, int, str, int]]:
    """(path, first line, name, line count) per unreferenced definition."""
    words: Counter = Counter()
    attrs: Counter = Counter()
    for p in _corpus(root):
        with open(p, encoding="utf-8", errors="replace") as f:
            text = f.read()
        words.update(_WORD.findall(text))
        attrs.update(_ATTR.findall(text))
    dead = []
    for d, _dirs, files in os.walk(os.path.join(root, PACKAGE)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            lines = src.splitlines()

            def check(node, counter, pattern, label):
                first = min([node.lineno] + [x.lineno for x in node.decorator_list])
                body = "\n".join(lines[first - 1:node.end_lineno])
                if counter[node.name] <= pattern.findall(body).count(node.name):
                    dead.append((
                        os.path.relpath(path, root), first, label,
                        node.end_lineno - first + 1,
                    ))

            for node in ast.parse(src).body:
                if not isinstance(node, _DEFS) or _registered(node):
                    continue
                check(node, words, _WORD, node.name)
                if isinstance(node, ast.ClassDef) and node.name in CLASSES:
                    for m in node.body:
                        if isinstance(m, _DEFS) and not m.name.startswith("__"):
                            check(m, attrs, _ATTR, f"{node.name}.{m.name}")
    return sorted(dead)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    dead = dead_defs(args.root)
    for path, line, name, n in dead:
        print(f"{path}:{line} {name} {n}")
    print(f"total: {len(dead)} definitions, {sum(d[3] for d in dead)} lines")


if __name__ == "__main__":
    main()
