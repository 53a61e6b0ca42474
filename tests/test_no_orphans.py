"""Guard against dead code and stale COVERAGE pointers (AST only, no Spark).

1. Every function COVERAGE.md names in backticks — `path.py::fn`,
   `module.fn` / `Class.member`, or a bare `fn` — resolves to a def in
   `unstract_spark/` (a top-level def or class, or a class member). A
   bare name that is no def but is a parameter, an attribute or a word
   in a string in the package (a column, a config key, a Spark method)
   is not a function name and is skipped. Named test files and test
   functions must exist under `tests/`, and named paths must exist.
2. Every top-level function or class in `unstract_spark/` is named
   somewhere outside its own definition: in the package, `tests/`,
   `perfbench/`, `tools/`, `bench.py` or `__spark_entry__.py`. A name
   counts when it appears as an AST Name, Attribute, import alias or an
   identifier-shaped string constant (getattr / registry lookups).
   Functions registered by a `register*` decorator are used by the
   registry that decorator fills.
3. No top-level def or class in `unstract_spark/` has `fake` in its
   name (any case): test doubles live in `tests/fakes.py`.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "unstract_spark"
SCOPE = ("unstract_spark", "tests", "perfbench", "tools", "bench.py", "__spark_entry__.py")


def _py_files() -> list[Path]:
    files: list[Path] = []
    for name in SCOPE:
        p = ROOT / name
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return files


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _package_defs():
    """(module path, node) for every top-level def/class, and each
    top-level class's member names (methods and class-level fields),
    inherited ones included."""
    defs, methods, bases = [], defaultdict(set), {}
    for f in sorted(PKG.rglob("*.py")):
        for n in _parse(f).body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((f, n))
            if isinstance(n, ast.ClassDef):
                bases[n.name] = [b.id for b in n.bases if isinstance(b, ast.Name)]
                for m in n.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        methods[n.name].add(m.name)
                    elif isinstance(m, ast.AnnAssign) and isinstance(m.target, ast.Name):
                        methods[n.name].add(m.target.id)

    def inherited(cls: str, seen: frozenset = frozenset()) -> set[str]:
        out = set(methods.get(cls, ()))
        for b in bases.get(cls, ()):
            if b not in seen:
                out |= inherited(b, seen | {cls})
        return out

    return defs, {c: inherited(c) for c in bases}


def _referenced_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
        return node.value
    return None


def _is_registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        fn = d.func if isinstance(d, ast.Call) else d
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if name.startswith("register"):
            return True
    return False


def test_every_package_def_is_used_outside_itself():
    refs: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for f in _py_files():
        for node in ast.walk(_parse(f)):
            name = _referenced_name(node)
            if name:
                refs[name].append((f, getattr(node, "lineno", 0)))
    defs, _ = _package_defs()
    orphans = []
    for f, n in defs:
        if _is_registered(n):
            continue
        outside = [
            (rf, line) for rf, line in refs.get(n.name, ())
            if not (rf == f and n.lineno <= line <= n.end_lineno)
        ]
        if not outside:
            orphans.append(f"{f.relative_to(ROOT)}::{n.name}")
    assert not orphans, f"defined but never used: {orphans}"


def _package_words() -> set[str]:
    """Parameter names, attribute names and identifier-shaped words in
    strings across the package: how COVERAGE spells arguments, columns
    and Spark API calls."""
    words: set[str] = set()
    for f in PKG.rglob("*.py"):
        for node in ast.walk(_parse(f)):
            if isinstance(node, ast.arg):
                words.add(node.arg)
            elif isinstance(node, ast.keyword) and node.arg:
                words.add(node.arg)
            elif isinstance(node, ast.Attribute):
                words.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                words.update(re.findall(r"[A-Za-z_]\w*", node.value))
    return words


def _test_names() -> set[str]:
    names = set()
    for f in (ROOT / "tests").glob("test_*.py"):
        names.add(f.stem)
        names.update(
            n.name for n in ast.walk(_parse(f))
            if isinstance(n, ast.FunctionDef) and n.name.startswith("test_")
        )
    return names


def test_coverage_names_resolve_to_package_defs():
    defs, methods = _package_defs()
    members = defaultdict(set)  # module path (relative, no suffix) -> names
    for f, n in defs:
        mod = f.relative_to(PKG).with_suffix("").as_posix()
        members[mod].add(n.name)
        members[mod] |= methods.get(n.name, set())
    top = {n.name for _, n in defs}
    all_methods = set().union(*methods.values())
    words = _package_words()
    tests = _test_names()

    def module(path: str) -> str | None:
        path = path.removesuffix(".py")
        hits = [m for m in members if m == path or m.endswith("/" + path)]
        return hits[0] if hits else None

    def resolves(tok: str) -> bool:
        tok = tok.split("(", 1)[0]
        if tok.endswith("..."):
            stem = tok.removesuffix("...")
            return any(t.startswith(stem) for t in tests | top | all_methods)
        if tok.endswith((".py", "/")):
            return any((d / tok).exists() for d in (ROOT, ROOT / "tests", PKG))
        if "::" in tok:
            path, _, name = tok.partition("::")
            mod = module(path)
            cls, _, member = name.partition(".")
            return mod is not None and cls in members[mod] and (
                not member or member in methods.get(cls, ())
            )
        if "." in tok:
            head, _, last = tok.rpartition(".")
            names = last.split("/")  # `mod.a/b/c` names three members
            if head in methods:
                return all(n in methods[head] for n in names)
            mod = module(head.replace(".", "/"))
            return mod is None or all(n in members[mod] for n in names)
        if tok.startswith("test_"):
            return tok in tests
        return tok in top or tok in all_methods or tok in words

    missing = []
    text = (ROOT / "COVERAGE.md").read_text()
    for lineno, line in enumerate(text.splitlines(), 1):
        for tok in re.findall(r"`([^`]+)`", line):
            if re.fullmatch(r"[\w/.:]+(\(.*\))?", tok) and not resolves(tok):
                missing.append(f"COVERAGE.md:{lineno}: {tok}")
    assert not missing, "COVERAGE.md names code that does not exist:\n" + "\n".join(missing)


def test_no_test_doubles_in_package():
    defs, _ = _package_defs()
    doubles = [
        f"{f.relative_to(ROOT)}::{n.name}" for f, n in defs if "fake" in n.name.lower()
    ]
    assert not doubles, f"test doubles in the package (move them to tests/fakes.py): {doubles}"
