"""Static dead-code gate (no Spark session): every top-level def, class
and UPPER_CASE constant in causalre_spark/ must be named, as a whole
word, at least once outside its own definition somewhere in the
package, the tools, the tests, perfbench or the driver entry file.
A definition nothing reads is either dead or half of an unfinished
deletion."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "causalre_spark"
SCANNED = [p for d in ("causalre_spark", "tools", "tests", "perfbench")
           for p in sorted((ROOT / d).rglob("*.py"))] \
    + [ROOT / "__spark_entry__.py"]
CONST = re.compile(r"_?[A-Z][A-Z0-9_]*\Z")
WORD = re.compile(r"[A-Za-z0-9_]+")


def _top_level_defs(tree):
    """(name, node) for each def, class and UPPER_CASE assignment at
    module level, including those under a module-level if/try."""
    todo = list(tree.body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield n.name, n
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                if isinstance(t, ast.Name) and CONST.match(t.id):
                    yield t.id, n
        elif isinstance(n, (ast.If, ast.Try)):
            todo += n.body + n.orelse
            if isinstance(n, ast.Try):
                todo += [s for h in n.handlers for s in h.body] + n.finalbody


def test_every_package_definition_is_read_somewhere():
    lines = {p: p.read_text(encoding="utf-8").splitlines() for p in SCANNED}
    uses = Counter(w for ls in lines.values() for ln in ls
                   for w in WORD.findall(ln))
    dead = []
    for p in sorted(PKG.rglob("*.py")):
        spans: dict[str, list] = {}
        for name, node in _top_level_defs(ast.parse("\n".join(lines[p]))):
            spans.setdefault(name, []).append((node.lineno, node.end_lineno))
        for name, sp in spans.items():
            own = sum(WORD.findall(ln).count(name)
                      for a, b in sp for ln in lines[p][a - 1:b])
            if uses[name] <= own:
                dead.append(f"{p.relative_to(ROOT)}:{sp[0][0]} {name}")
    assert not dead, "definitions nothing reads:\n" + "\n".join(dead)
