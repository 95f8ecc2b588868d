"""Every public def in the package has a caller outside tests.

A def that only tests call is a second surface to keep in sync: a
capability with one production path keeps its reference implementations
in ``tests/`` as oracles, and deletes what nothing runs. This check
tokenizes the package and its production callers (``examples/``,
``perfbench/``, ``scripts/``, the bench scripts and the driver entry) and
fails on any public top-level ``def``/``class`` of ``fess_ds_s3_spark/``,
or public method of a public class, whose name appears as a ``NAME``
token nowhere outside its own body. A second check holds the crawl
driver's options to the same rule: every keyword parameter of
``CrawlDriver.__init__`` is passed by name in some production call. A
third check keeps plan building job-free: no package module touches
``.rdd`` except the no-exchange branch of ``arrow_text.partition_floor``
(on an adaptive plan, ``.rdd`` runs every upstream shuffle stage while
the plan is still being built).

Import lines, strings, comments and ``tests/`` do not count as callers.
Pure Python; no Spark session.
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "fess_ds_s3_spark"
CALLER_DIRS = ("fess_ds_s3_spark", "examples", "perfbench", "scripts")
CALLER_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")

#: public defs kept without a production caller, name → reason
ALLOWED_UNCALLED = {
    "StoreSpec": "typing protocol every store spec implements; "
                 "annotations name it only in strings",
    "snapshots": "SnapshotTable manifest history that tests inspect, "
                 "like Iceberg's table.snapshots()",
}


def _caller_files() -> list[Path]:
    files = [ROOT / name for name in CALLER_FILES if (ROOT / name).exists()]
    for name in CALLER_DIRS:
        files.extend(p for p in sorted((ROOT / name).rglob("*.py"))
                     if "tests" not in p.relative_to(ROOT).parts)
    return files


def _public_defs() -> dict[str, list[tuple[Path, int, int]]]:
    """name → [(file, first line, last line)] of each public top-level
    def/class and each public method of a public class (decorators
    included)."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}

    def add(path: Path, node: ast.AST) -> None:
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        defs.setdefault(node.name, []).append((path, first, node.end_lineno))

    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if not isinstance(node, kinds) or node.name.startswith("_"):
                continue
            add(path, node)
            if isinstance(node, ast.ClassDef):
                for member in node.body:
                    if (isinstance(member, kinds[:2])
                            and not member.name.startswith("_")):
                        add(path, member)
    return defs


def _name_refs(path: Path) -> list[tuple[str, int]]:
    """(name, line) of every NAME token outside import statements.
    Strings and comments are their own token types, so they never yield
    a NAME."""
    refs = []
    in_import = False
    line_start = True
    tokens = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    for tok in tokens:
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            in_import, line_start = False, True
            continue
        if tok.type in (tokenize.NL, tokenize.COMMENT, tokenize.INDENT,
                        tokenize.DEDENT):
            continue
        if line_start:
            in_import = (tok.type == tokenize.NAME
                         and tok.string in ("import", "from"))
            line_start = False
        if tok.type == tokenize.NAME and not in_import:
            refs.append((tok.string, tok.start[0]))
    return refs


def uncalled_public_defs() -> list[str]:
    defs = _public_defs()
    called: set[str] = set()
    for path in _caller_files():
        for name, line in _name_refs(path):
            if name in called or name not in defs:
                continue
            if not any(path == where and first <= line <= last
                       for where, first, last in defs[name]):
                called.add(name)
    return sorted(set(defs) - called)


def test_every_public_def_has_a_production_caller():
    uncalled = [name for name in uncalled_public_defs()
                if name not in ALLOWED_UNCALLED]
    assert not uncalled, (
        "public defs with no caller outside tests/ (delete them, move "
        "oracles and fixtures into tests/, or make them private): "
        + ", ".join(uncalled))


def test_allowlist_is_small_and_current():
    assert len(ALLOWED_UNCALLED) <= 2
    stale = sorted(set(ALLOWED_UNCALLED) - set(uncalled_public_defs()))
    assert not stale, ("allowlisted names that are gone or now have a "
                       "caller (drop them from the list): "
                       + ", ".join(stale))


def _driver_options() -> list[str]:
    """Keyword parameters (those with defaults) of CrawlDriver.__init__."""
    tree = ast.parse((PACKAGE / "plans" / "crawl.py").read_text())
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "CrawlDriver")
    init = next(n for n in cls.body
                if isinstance(n, ast.FunctionDef) and n.name == "__init__")
    a = init.args
    positional = (a.args[len(a.args) - len(a.defaults):]
                  if a.defaults else [])
    return [p.arg for p in positional + a.kwonlyargs]


def _driver_keywords_passed() -> set[str]:
    """Keyword names passed to ``CrawlDriver(...)`` calls in production
    callers."""
    passed: set[str] = set()
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = (func.id if isinstance(func, ast.Name) else
                    func.attr if isinstance(func, ast.Attribute) else None)
            if name == "CrawlDriver":
                passed.update(k.arg for k in node.keywords if k.arg)
    return passed


def test_every_driver_option_is_set_by_a_production_caller():
    unset = sorted(set(_driver_options()) - _driver_keywords_passed())
    assert not unset, (
        "CrawlDriver options no production caller passes (delete them or "
        "make the behaviour unconditional): " + ", ".join(unset))


def _allowed_rdd_lines() -> range:
    """Lines of the no-exchange branch of ``partition_floor``: the
    ``else`` of the ``if`` that tests for an ``AdaptiveSparkPlanExec``
    root."""
    path = PACKAGE / "functions" / "arrow_text.py"
    tree = ast.parse(path.read_text())
    floor = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
                 and n.name == "partition_floor")
    branch = next(n for n in ast.walk(floor) if isinstance(n, ast.If)
                  and any(isinstance(c, ast.Constant)
                          and c.value == "AdaptiveSparkPlanExec"
                          for c in ast.walk(n.test)))
    assert branch.orelse, "partition_floor lost its no-exchange branch"
    return range(branch.orelse[0].lineno, branch.orelse[-1].end_lineno + 1)


def test_rdd_is_touched_only_by_the_no_exchange_floor_probe():
    floor_file = PACKAGE / "functions" / "arrow_text.py"
    allowed = _allowed_rdd_lines()
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute) and node.attr == "rdd"
                    and not (path == floor_file
                             and node.lineno in allowed)):
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not hits, (
        "package code touching .rdd (on an adaptive plan it runs the "
        "upstream shuffle stages at plan-build time): " + ", ".join(hits))
