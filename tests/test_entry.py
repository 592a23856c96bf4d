"""The entry-point contract in __spark_entry__.py: ``entry(spark)`` is the
clean-stage judgment, every oracle names a registered query, and the
registry's shared table reader never serves another session's schema.
Two package-wide hygiene guards ride along: no unused imports and no
unreferenced top-level definitions."""

from __future__ import annotations

import __spark_entry__ as E
from llm_data_pipeline_spark import queries as Q

CLEAN_JUDGE_COLUMNS = [
    "doc_id", "kept", "drop_reason",
    "m_non_ws", "m_alpha_cjk", "m_punct", "m_dup_line",
]


def test_entry_is_clean_judge(spark):
    df = E.entry(spark)
    assert df.columns == CLEAN_JUDGE_COLUMNS
    assert df.count() > 0


def test_every_oracle_names_a_query():
    qs, osql = E.queries(), E.oracle_sql()
    assert osql, "no oracle queries registered"
    assert set(osql) <= set(qs)


def test_registry_has_no_relational_queries():
    assert not [n for n in E.queries() if n.startswith("tpch_")]


def test_table_schema_cache_ignores_recycled_session_address(spark, sf_dir):
    """A dead session's cache entry under the same id() must not leak into
    a live session: the cache is keyed on the application id."""
    from pyspark.sql.types import LongType, StructField, StructType

    path = f"{sf_dir}/documents.parquet"
    real = spark.read.parquet(path).schema
    stale = StructType([StructField("not_a_column", LongType())])
    Q._SCHEMA_CACHE[(id(spark), path)] = stale
    try:
        assert Q.table(spark, sf_dir, "documents").schema == real
    finally:
        Q._SCHEMA_CACHE.pop((id(spark), path), None)


def _import_hygiene(path):
    """Problems in one module: module-level imported names it never
    references, and function-local ``from X import n`` re-imports of a
    name the module already imports from X at top level."""
    import ast

    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)

    def exempt(node):
        return any(
            "# noqa: F401" in lines[i - 1]
            for i in range(node.lineno, node.end_lineno + 1)
        )

    def key(node, alias):
        return (node.level, node.module, alias.name)

    top, top_from = {}, set()
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                top_from.add(key(node, a))
                if not exempt(node):
                    top[a.asname or a.name] = node.lineno
        elif isinstance(node, ast.Import) and not exempt(node):
            for a in node.names:
                top[a.asname or a.name.split(".")[0]] = node.lineno

    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        ann = getattr(node, "annotation", None) or getattr(node, "returns", None)
        if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
            used |= {
                n.id for n in ast.walk(ast.parse(ann.value, mode="eval"))
                if isinstance(n, ast.Name)
            }
    problems = [
        f"{path}:{line}: `{name}` imported but unused"
        for name, line in top.items() if name not in used
    ]
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom):
                problems += [
                    f"{path}:{node.lineno}: `{a.name}` re-imported from "
                    f"{node.module}, already imported at module level"
                    for a in node.names if key(node, a) in top_from
                ]
    return problems


def test_package_has_no_unused_imports():
    """Import hygiene over the package (no linter ships with the repo): a
    deletion must not leave an import behind. ``__init__.py`` files and
    ``# noqa: F401`` lines are re-exports and exempt."""
    import pathlib

    pkg = pathlib.Path(Q.__file__).parent
    problems = [
        p
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "__init__.py"
        for p in _import_hygiene(path)
    ]
    assert not problems, "\n".join(problems)


def _assigned_names(target):
    """Plain names bound by an assignment target, tuple targets unpacked."""
    import ast

    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for t in target.elts for n in _assigned_names(t)]
    return []


def _top_level_names(tree):
    """(name, line) of every top-level def, class and assigned name, graded
    queries (``@query`` registers those by name) and dunders aside."""
    import ast

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                for d in node.decorator_list
            ):
                yield node.name, node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for name in (n for t in targets for n in _assigned_names(t)):
                if not (name.startswith("__") and name.endswith("__")):
                    yield name, node.lineno


def test_package_has_no_unreferenced_definitions():
    """Dead-code guard: every top-level ``def``/``class`` and module
    constant in the package (graded queries and dunders aside) is named, as
    a whole word, on some line of the repo's Python other than a definition
    line of that name. A deletion must not leave behind a helper or a
    constant whose last user went with it."""
    import ast
    import pathlib
    import re

    repo = pathlib.Path(E.__file__).parent
    pkg = pathlib.Path(Q.__file__).parent
    sources = [repo / "__spark_entry__.py"] + [
        p
        for d in ("llm_data_pipeline_spark", "tests", "perfbench", "scripts")
        for p in sorted((repo / d).rglob("*.py"))
    ]
    texts = {p: p.read_text().splitlines() for p in sources}
    defs = [
        (p, name, line)
        for p in sorted(pkg.rglob("*.py"))
        for name, line in _top_level_names(ast.parse(p.read_text()))
    ]
    def_lines = {}
    for p, name, line in defs:
        def_lines.setdefault(name, set()).add((p, line))

    problems = []
    for p, name, line in defs:
        word = re.compile(rf"\b{re.escape(name)}\b")
        if not any(
            word.search(text)
            for q, lines in texts.items()
            for i, text in enumerate(lines, 1)
            if (q, i) not in def_lines[name]
        ):
            problems.append(f"{p.relative_to(repo)}:{line}: `{name}`")
    assert not problems, "referenced nowhere:\n" + "\n".join(problems)
