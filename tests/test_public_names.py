"""No public name that nothing reads: every public top-level name
defined in `crawler_spark/` must occur at least once outside its own
definition, anywhere in the package, its tests, benchmarks, perfbench,
scripts or the entry points. Uses count identifiers, attribute names,
imported names and exact string literals (perfbench/spans.py names
the functions it traces as strings)."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
TREES = (
    "crawler_spark", "tests", "benchmarks", "perfbench", "scripts",
    "bench.py", "__spark_entry__.py",
)


def _sources():
    for t in TREES:
        p = ROOT / t
        for f in [p] if p.is_file() else sorted(p.rglob("*.py")):
            yield f, ast.parse(f.read_text(), filename=str(f))


def _top_level_names(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                yield from (n.id for n in ast.walk(t) if isinstance(n, ast.Name))


def _uses(tree):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def test_every_public_name_is_read():
    package = ROOT / "crawler_spark"
    defined, used = [], set()
    for f, tree in _sources():
        if package in f.parents:
            defined += [
                f"{f.relative_to(ROOT)}:{name}"
                for name in _top_level_names(tree)
                if not name.startswith("_")
            ]
        used.update(_uses(tree))
    assert defined
    unread = [d for d in defined if d.rsplit(":", 1)[1] not in used]
    assert unread == []
