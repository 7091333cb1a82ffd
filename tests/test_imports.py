"""Every import into the package resolves.

Most ``queries()`` entries and tools are never run by a test, and many
of them import lazily inside a function body, so a module or name that
was deleted or renamed would only fail when that code path runs.  This
test reads every source file with ``ast`` (module level and function
bodies alike), resolves each import that lands in the package,
relative imports included, and checks that the module imports and that
every imported name exists on it.  Files are parsed, not executed.
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "privacy_crawler_parser_tokenizer_spark"
SOURCES = [ROOT / PKG, ROOT / "tools", ROOT / "tests", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _files():
    for src in SOURCES:
        yield from ([src] if src.is_file() else sorted(src.rglob("*.py")))


def _package_of(path):
    """Dotted package a file's relative imports resolve against: its
    directory, for ``__init__.py`` and plain modules alike."""
    return ".".join(path.relative_to(ROOT).parent.parts)


def _imports(path):
    """(line, module, names) for each import statement into the package;
    ``names`` is empty for ``import a.b`` and omits ``*``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = _package_of(path).split(".")
                base = base[: len(base) - node.level + 1]
                module = ".".join(base + ([module] if module else []))
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names if a.name != "*"]


def _unresolved(module, names):
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return [f"{module}: {e}"]
    missing = []
    for name in names:
        if hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    return missing


def test_every_package_import_resolves():
    checked, problems = 0, []
    for path in _files():
        for line, module, names in _imports(path):
            checked += 1
            rel = path.relative_to(ROOT)
            problems += [f"{rel}:{line}: {m}" for m in _unresolved(module, names)]
    assert checked > 0
    assert not problems, "unresolved imports:\n" + "\n".join(problems)


def _bench_headline():
    """bench.py's ``HEADLINE`` list, read with ``ast`` (bench.py is not
    imported: it starts Spark when run)."""
    for node in ast.parse((ROOT / "bench.py").read_text()).body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "HEADLINE" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("bench.py defines no HEADLINE list")


def test_bench_headline_names_are_queries():
    """bench.py keeps only the HEADLINE names found in ``queries()``, so
    a query deleted from the board would leave the suite silently."""
    from privacy_crawler_parser_tokenizer_spark.queries import QUERIES

    headline = _bench_headline()
    assert headline
    missing = [n for n in headline if n not in QUERIES]
    assert not missing, f"bench.py HEADLINE names no query: {missing}"


def _table_literals():
    """Table names passed as string literals to
    ``load_table(spark, sf_dir, ...)`` in queries.py, read with ``ast``."""
    tree = ast.parse((ROOT / PKG / "queries.py").read_text())
    return {
        node.args[2].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "load_table"
        and len(node.args) == 3
        and isinstance(node.args[2], ast.Constant)
    }


def test_board_tables_are_the_tables_queries_read():
    """``BOARD_TABLES`` is the one list of testdata tables the board
    reads: each listed table is read by some oracle, and each table a
    query reads is listed, so tools/check_oracles.py creates no view
    that nothing uses and misses none that a query needs."""
    import re

    from privacy_crawler_parser_tokenizer_spark.queries import ORACLE_SQL
    from privacy_crawler_parser_tokenizer_spark.sources.tables import BOARD_TABLES

    unread = [
        t for t in BOARD_TABLES
        if not any(
            re.search(rf"\b(?:FROM|JOIN)\s+{t}\b", sql, re.IGNORECASE)
            for sql in ORACLE_SQL.values()
        )
    ]
    assert not unread, f"BOARD_TABLES lists tables no oracle reads: {unread}"
    literals = _table_literals()
    assert literals
    unlisted = sorted(literals - set(BOARD_TABLES))
    assert not unlisted, f"queries.py reads tables missing from BOARD_TABLES: {unlisted}"
