"""Source scans of the package: every environment variable it reads is
a documented knob, and every top-level definition is reached from a
query, a script or README's example."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENV_READ = re.compile(
    r"""(?:environ(?:\.get|\.setdefault)?\(|environ\[|getenv\()\s*["']([A-Za-z_]\w*)["']"""
)


def _knobs_paragraph() -> str:
    text = (ROOT / "README.md").read_text()
    start = text.index("Knobs:")
    end = text.find("\n\n", start)
    return text[start : end if end != -1 else len(text)]


def test_every_env_read_is_a_documented_knob():
    reads = {
        name: path.relative_to(ROOT)
        for path in sorted((ROOT / "datatransformertools_spark").rglob("*.py"))
        for name in ENV_READ.findall(path.read_text())
    }
    assert reads, "the scan found no environment reads at all"
    knobs = _knobs_paragraph()
    missing = {name: str(path) for name, path in reads.items() if f"`{name}`" not in knobs}
    assert not missing, f"env vars read but not in README's Knobs line: {missing}"


PACKAGE = ROOT / "datatransformertools_spark"
CONSTANT = re.compile(r"_*[A-Z][A-Z0-9_]*")


def _referenced(node: ast.AST) -> set[str]:
    """Names, attribute names and import aliases under ``node``. String
    and docstring text never counts as a reference."""
    found = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            found.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            found.add(sub.attr)
        elif isinstance(sub, ast.alias):
            found.add(sub.name.rsplit(".", 1)[-1])
    return found


def _defined_names(stmt: ast.stmt) -> list[str]:
    """The top-level def or class name, or the UPPER_CASE constants an
    assignment binds; nothing for any other statement."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [t.id for t in targets if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id)]
    return []


def _unreached_definitions() -> list[str]:
    """Top-level defs, classes and UPPER_CASE constants of the package
    that no root reaches. Roots: every other module-level statement of
    the package (the registry's QUERIES dicts among them), bench.py,
    __spark_entry__.py, perfbench/*.py and README's python blocks.
    Names match across modules, so a name reached anywhere counts as
    reached everywhere."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    roots = {"QUERIES"}  # registry._load reads each module's QUERIES by name
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            names = _defined_names(stmt)
            if not names:
                roots |= _referenced(stmt)
            for name in names:
                defs.setdefault(name, []).append((f"{path.relative_to(ROOT)}:{name}", stmt))
    scripts = [ROOT / "bench.py", ROOT / "__spark_entry__.py", *(ROOT / "perfbench").glob("*.py")]
    sources = [p.read_text() for p in scripts]
    sources += re.findall(r"```python\n(.*?)```", (ROOT / "README.md").read_text(), re.S)
    for src in sources:
        roots |= _referenced(ast.parse(src))
    reached: set[str] = set()
    todo = [name for name in roots if name in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, stmt in defs[name]:
            todo.extend(n for n in _referenced(stmt) if n in defs and n not in reached)
    return sorted(where for name in defs.keys() - reached for where, _ in defs[name])


def test_every_package_definition_is_reached_from_a_root():
    unreached = _unreached_definitions()
    assert not unreached, f"definitions no query, script or README example reaches: {unreached}"


# Each pasted-SQL fragment and the one definition allowed to spell it.
# ``doc_char_entropy`` spells the normalization in a Spark SQL
# expression, which is the builder itself, not a DuckDB twin.
TWIN_FRAGMENTS = {
    "regexp_replace(lower(": {
        "datatransformertools_spark/functions/text.py:normalize_sql",
        "datatransformertools_spark/operators/text_analysis.py:doc_char_entropy",
    },
    "substr(md5('{i}:' || shingle)": {
        "datatransformertools_spark/operators/dedup.py:_minhash_ctes",
    },
    "SELECT query_id, rank, neighbor_id, cos_sim FROM ranked": {
        "datatransformertools_spark/operators/similarity.py:_TOPK_TAIL_SQL",
    },
    "'{t}:' || CAST(": {
        "datatransformertools_spark/operators/similarity.py:_lsh_cand_sql",
    },
    "FROM e CROSS JOIN cents c WHERE": {
        "datatransformertools_spark/operators/similarity.py:_ivf_cells_sql",
    },
    "list_slice(v, t.sub_id*": {
        "datatransformertools_spark/operators/similarity.py:_pq_sub_sql",
    },
    "arg_min(code_id, printf(": {
        "datatransformertools_spark/operators/similarity.py:_PQ_CODES_SQL",
    },
    "round(count(x.neighbor_id) * 1.0 /": {
        "datatransformertools_spark/operators/similarity.py:_recall_tail_sql",
    },
    "SELECT vec_a AS src, vec_b AS dst, cos_sim FROM pairs": {
        "datatransformertools_spark/operators/similarity.py:_knn_sql",
    },
    "_new n ON c.cluster = n.cluster AND c.dim = n.dim": {
        "datatransformertools_spark/operators/similarity.py:_lloyd_sql",
    },
    "lag(ts_us) OVER w > {SESSION_GAP_US}": {
        "datatransformertools_spark/operators/events.py:_sessions_sql",
    },
    "WHEN event_type = 'click' AND ts_us >= v": {
        "datatransformertools_spark/operators/events.py:_FUNNEL_STEPS_SQL",
    },
    "AS BIGINT) AS forecast_hour_us": {
        "datatransformertools_spark/operators/timeseries.py:_forecast_sql",
    },
    "SELECT least((SELECT max(cus) FROM c)": {
        "datatransformertools_spark/streaming/events.py:_IJ_SIDES_SQL",
    },
    "::BIGINT & 4294967295": {
        "datatransformertools_spark/functions/hashing.py:md5_u32_sql",
    },
}


def _top_level_owner(tree: ast.Module, lineno: int) -> str:
    for stmt in tree.body:
        if stmt.lineno <= lineno <= stmt.end_lineno:
            names = _defined_names(stmt)
            return names[0] if names else f"line {lineno}"
    return f"line {lineno}"


def test_duckdb_twin_fragments_are_not_repasted():
    """The DuckDB normalization, MinHash signature, ANN index-stage,
    Lloyd face, event-family stage and row-checksum fragments are
    spelled once, in their twin; every oracle calls the twin."""
    hits: dict[str, set[str]] = {frag: set() for frag in TWIN_FRAGMENTS}
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        tree = ast.parse(text)
        for i, line in enumerate(text.splitlines(), 1):
            for frag in TWIN_FRAGMENTS:
                if frag in line:
                    hits[frag].add(f"{path.relative_to(ROOT)}:{_top_level_owner(tree, i)}")
    assert hits == TWIN_FRAGMENTS


def _imported_modules(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, ast.ImportFrom):
        return {stmt.module}
    if isinstance(stmt, ast.Import):
        return {alias.name for alias in stmt.names}
    return set()


def _repeated_local_imports(tree: ast.Module) -> list[int]:
    """Lines of function-local ``import M`` / ``from M import ...``
    statements whose module M the file already imports at its top."""
    top = set().union(*(_imported_modules(stmt) for stmt in tree.body))
    return sorted(
        {
            sub.lineno
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            for sub in ast.walk(node)
            if _imported_modules(sub) & top
        }
    )


def test_no_function_local_import_repeats_a_top_level_import():
    """A module the file imports at its top is imported there once: a
    function-local import of it only hides which names the file uses.
    This holds for every module, the standard library and pyspark as
    much as the package. (Function-local imports of a module the file
    does not import at its top, such as the dedup ↔ similarity cycle,
    stay allowed.)"""
    bad = {
        str(path.relative_to(ROOT)): lines
        for path in sorted(PACKAGE.rglob("*.py"))
        if (lines := _repeated_local_imports(ast.parse(path.read_text())))
    }
    assert not bad, f"function-local imports of a module already imported at the top: {bad}"
    src = (
        "import math\n"
        "from pyspark.sql import DataFrame\n"
        "from datatransformertools_spark.caching import Memo\n"
        "def f():\n"
        "    from datatransformertools_spark.caching import track\n"
        "    from datatransformertools_spark.operators import dedup\n"
        "    def g():\n"
        "        import math as m\n"
        "        from pyspark.sql import functions as F\n"
        "        import functools\n"
    )
    assert _repeated_local_imports(ast.parse(src)) == [5, 8, 9]
