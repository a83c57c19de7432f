"""Source scans of the package: every environment variable it reads is
a documented knob, every top-level definition is reached from a
query, a script or README's example, every pasted stage has one
owner, and every module imports cleanly on its own."""

from __future__ import annotations

import ast
import re
import subprocess
import sys
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


def _unreached(modules: dict[str, str], scripts: list[str]) -> list[str]:
    """Top-level defs, classes and UPPER_CASE constants of ``modules``
    (path → source) that no root reaches. Roots: every module-level
    statement of the modules that is neither a definition nor an
    import (the registry's QUERIES dicts among them), and the
    ``scripts`` sources. An import only binds a name, so a definition
    that nothing but a re-export names is unreached. Names match across
    modules, so a name reached anywhere counts as reached everywhere."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    roots = {"QUERIES"}  # registry._load reads each module's QUERIES by name
    for path, src in modules.items():
        for stmt in ast.parse(src).body:
            names = _defined_names(stmt)
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _referenced(stmt)
            for name in names:
                defs.setdefault(name, []).append((f"{path}:{name}", stmt))
    for src in scripts:
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


def _unreached_definitions() -> list[str]:
    """``_unreached`` over the package, with bench.py,
    __spark_entry__.py, perfbench/*.py and README's python blocks as
    the scripts."""
    modules = {str(p.relative_to(ROOT)): p.read_text() for p in sorted(PACKAGE.rglob("*.py"))}
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py", *(ROOT / "perfbench").glob("*.py")]
    scripts = [p.read_text() for p in paths]
    scripts += re.findall(r"```python\n(.*?)```", (ROOT / "README.md").read_text(), re.S)
    return _unreached(modules, scripts)


def test_a_name_that_is_only_imported_is_unreached():
    modules = {
        "pkg/a.py": "def used():\n    pass\n\n\ndef only_imported():\n    pass\n",
        "pkg/__init__.py": "from pkg.a import only_imported, used\n",
    }
    assert _unreached(modules, ["used()\n"]) == ["pkg/a.py:only_imported"]


def test_every_package_definition_is_reached_from_a_root():
    unreached = _unreached_definitions()
    assert not unreached, f"definitions no query, script or README example reaches: {unreached}"


# Each pasted-SQL fragment and the one definition allowed to spell it.
# ``doc_char_entropy`` spells the normalization in a Spark SQL
# expression, which is the builder itself, not a DuckDB twin;
# ``_kcore_sql`` keeps its own ``MATERIALIZED`` copy of the edge CTE.
TWIN_FRAGMENTS = {
    "regexp_replace(lower(": {
        "datatransformertools_spark/functions/text.py:normalize_sql",
        "datatransformertools_spark/operators/text_analysis.py:doc_char_entropy",
    },
    "md5_long_sql('shingle', salt=f'{i}:')": {
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
    "), 1, 15))::BIGINT": {
        "datatransformertools_spark/functions/hashing.py:md5_long_sql",
    },
    "quantile_cont(n_chars, {P_LO})": {
        "datatransformertools_spark/operators/quality.py:_LENGTH_BAND_SQL",
    },
    "normalize_sql())}) AS n_tok,": {
        "datatransformertools_spark/operators/quality.py:_FILTER_BASE_SQL",
    },
    "SELECT doc_id, source,\n         len({tokens_sql(normalize_sql())}) AS n_tokens\n  FROM": {
        "datatransformertools_spark/operators/corpus.py:_PACK_TOKS_SQL",
    },
    "- n_tokens AS BIGINT)": {
        "datatransformertools_spark/operators/corpus.py:_PACK_OFFSET_SQL",
    },
    "(start_offset + n_tokens - 1) // {ctx}": {
        "datatransformertools_spark/operators/corpus.py:_windows_sql",
    },
    "SELECT doc_id, i AS pos, arr[i] AS token": {
        "datatransformertools_spark/operators/corpus.py:_token_vocab_sql",
    },
    "ORDER BY h % {TB_BUCKETS}, h, doc_id": {
        "datatransformertools_spark/operators/corpus.py:_TB_ORDERED_SQL",
    },
    "substr(hx, 21, 2)": {
        "datatransformertools_spark/operators/multimodal.py:_stub_boxes_sql",
    },
    "greatest(0.0, least(w, img_w - cx))": {
        "datatransformertools_spark/operators/annotations.py:_CLIPPED_SQL",
    },
    "a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey": {
        "datatransformertools_spark/operators/graph.py:_CO_EDGES_SQL",
        "datatransformertools_spark/operators/graph.py:_kcore_sql",
    },
    "count(*) AS obs\n  FROM lineitem l JOIN orders o": {
        "datatransformertools_spark/operators/relational.py:_PRIORITY_FLAG_SQL",
    },
    "length(format('{{:b}}'": {
        "datatransformertools_spark/operators/events.py:_hll_registers_sql",
    },
    "sum(pow(2.0, -max_rho))": {
        "datatransformertools_spark/operators/events.py:_hll_estimate_sql",
    },
    "a.vec_id < b.vec_id": {
        "datatransformertools_spark/operators/similarity.py:_block_join_sql",
    },
    "< 1e-6 THEN 1.0": {
        "datatransformertools_spark/functions/scaling.py:zscore_sql",
    },
}

# Each pasted Spark stage and the one builder allowed to spell it.
BUILDER_FRAGMENTS = {
    "tokens(normalize_text(": {
        "datatransformertools_spark/functions/text.py:norm_tokens",
    },
    "F.lit(400.0)": {
        "datatransformertools_spark/operators/text_analysis.py:quality_score_expr",
    },
    "percentile(n_chars": {
        "datatransformertools_spark/operators/quality.py:_length_band",
    },
    'F.sum("n_tokens").over(w) - F.col("n_tokens")': {
        "datatransformertools_spark/operators/corpus.py:_packed",
    },
    'F.col("start_offset") + F.col("n_tokens") - 1': {
        "datatransformertools_spark/operators/corpus.py:_windows",
    },
    'lambda s: s["tid"]': {
        "datatransformertools_spark/operators/corpus.py:_token_ids",
    },
    'F.col("cum_incl") - F.col("btok")': {
        "datatransformertools_spark/operators/corpus.py:_tb_cum",
    },
    'salt="split:"': {
        "datatransformertools_spark/operators/annotations.py:_is_train",
    },
    'F.format_string("%.6f"': {
        "datatransformertools_spark/sources/annotations.py:yolo_line",
    },
    "F.conv(w, 10, 2)": {
        "datatransformertools_spark/operators/events.py:_hll_registers",
    },
    "F.log(F.lit(float(HLL_M))": {
        "datatransformertools_spark/operators/events.py:_hll_estimate",
    },
    '.groupBy("o_orderpriority", "l_returnflag")': {
        "datatransformertools_spark/operators/relational.py:_priority_flag_cells",
    },
    "flat_cosine_prenormed(": {
        "datatransformertools_spark/functions/vectors.py:flat_cosine_prenormed",
        "datatransformertools_spark/operators/similarity.py:_block_pairs",
    },
    "< 1e-6, F.lit(1.0)": {
        "datatransformertools_spark/functions/scaling.py:zscore",
    },
    # graph.py's src partitioning is the co-partitioning contract the
    # PageRank and LPA rounds rely on, not a single-split fan-out
    ".defaultParallelism": {
        "datatransformertools_spark/sources/tables.py:fan_out",
        "datatransformertools_spark/operators/graph.py:_co_edges",
    },
}


def _top_level_owner(tree: ast.Module, lineno: int) -> str:
    for stmt in tree.body:
        if stmt.lineno <= lineno <= stmt.end_lineno:
            names = _defined_names(stmt)
            return names[0] if names else f"line {lineno}"
    return f"line {lineno}"


def _fragment_owners(fragments: dict[str, set[str]]) -> dict[str, set[str]]:
    """For each fragment, the top-level definitions of the package
    whose source spells it; a fragment may span lines."""
    hits: dict[str, set[str]] = {frag: set() for frag in fragments}
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        tree = ast.parse(text)
        for frag in fragments:
            at = text.find(frag)
            while at != -1:
                owner = _top_level_owner(tree, text.count("\n", 0, at) + 1)
                hits[frag].add(f"{path.relative_to(ROOT)}:{owner}")
                at = text.find(frag, at + 1)
    return hits


def test_duckdb_twin_fragments_are_not_repasted():
    """The DuckDB normalization, md5 hash, MinHash signature, ANN
    index-stage, Lloyd face, event-family stage, corpus-token stage,
    reference-pipeline, co-purchase edge, contingency-table, HLL,
    blocked-join and z-score fragments are spelled once, in their
    twin; every oracle calls the twin."""
    assert _fragment_owners(TWIN_FRAGMENTS) == TWIN_FRAGMENTS


def test_spark_stage_fragments_are_not_repasted():
    """The corpus tokenizer, quality score, length band, packing
    offsets and windows, vocab→ids, token-budget grains, train/val
    split, YOLO label line, HLL registers and estimate, the
    contingency table, the blocked flat-cosine pair kernel, the
    z-score std floor and the single-split fan-out are spelled once,
    in their Spark builder; every query calls it."""
    assert _fragment_owners(BUILDER_FRAGMENTS) == BUILDER_FRAGMENTS


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
    much as the package, in the package and in its tests. (Which
    function-local imports of a module the file does not import at
    its top stay allowed is the next test's rule.)"""
    paths = sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tests").glob("*.py"))
    bad = {
        str(path.relative_to(ROOT)): lines
        for path in paths
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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_targets(stmt: ast.AST, modules: set[str]) -> set[str]:
    """The modules of ``modules`` an import statement loads."""
    if isinstance(stmt, ast.Import):
        return {alias.name for alias in stmt.names} & modules
    if isinstance(stmt, ast.ImportFrom) and stmt.module:
        subs = {f"{stmt.module}.{alias.name}" for alias in stmt.names}
        return (subs | {stmt.module}) & modules
    return set()


def _acyclic_local_imports(trees: dict[str, ast.Module]) -> list[str]:
    """``module:line`` of each function-local import of a module whose
    target does not reach the importer in the import graph of
    ``trees`` (an edge per import statement, top-level or local).
    Such an import guards no import cycle."""
    modules = set(trees)
    edges = {
        m: {target for stmt in ast.walk(tree) for target in _import_targets(stmt, modules)}
        for m, tree in trees.items()
    }
    local = {
        (m, stmt.lineno, target)
        for m, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for stmt in ast.walk(fn)
        for target in _import_targets(stmt, modules)
    }

    def reaches(src: str, dst: str) -> bool:
        seen, todo = set(), [src]
        while todo:
            node = todo.pop()
            if node == dst:
                return True
            if node not in seen:
                seen.add(node)
                todo.extend(edges[node])
        return False

    return sorted({f"{m}:{line}" for m, line, target in local if not reaches(target, m)})


def test_function_local_package_imports_guard_a_cycle():
    """A package module imports another package module inside a
    function only to break an import cycle (the dedup ↔ similarity
    oracles): every other import sits at the top, where it shows
    what the module depends on. The CLI entry point keeps its lazy
    imports for start-up time."""
    trees = {
        _module_name(path): ast.parse(path.read_text())
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "__main__.py"
    }
    bad = _acyclic_local_imports(trees)
    assert not bad, f"function-local package imports that guard no cycle: {bad}"
    src = {
        "p": "",
        "p.a": "import p.b\ndef f():\n    from p.c import x\n",
        "p.b": "def g():\n    from p.a import y\n",
        "p.c": "def h():\n    from p.d import z\n",
        "p.d": "from p.c import h\n",
    }
    assert _acyclic_local_imports({m: ast.parse(t) for m, t in src.items()}) == ["p.a:3"]


def test_every_module_imports_first_in_a_fresh_interpreter():
    """Each operator, streaming and source module imports cleanly as
    the first import of a new interpreter, so no module works only
    because another one was imported before it."""
    modules = [
        _module_name(path)
        for sub in ("operators", "streaming", "sources")
        for path in sorted((PACKAGE / sub).glob("*.py"))
        if path.name != "__init__.py"
    ]
    failed = {}
    for module in modules:
        run = subprocess.run(
            [sys.executable, "-c", f"import {module}"], cwd=ROOT, capture_output=True, text=True
        )
        if run.returncode:
            failed[module] = run.stderr.strip().splitlines()[-1]
    assert not failed, f"modules that fail as the first import: {failed}"


def _is_stream_start(node: ast.AST) -> bool:
    """Whether ``node`` is a ``….writeStream….start()`` call."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr != "start":
        return False
    chain = node.func.value
    while isinstance(chain, (ast.Call, ast.Attribute)):
        if isinstance(chain, ast.Attribute) and chain.attr == "writeStream":
            return True
        chain = chain.func if isinstance(chain, ast.Call) else chain.value
    return False


def _stream_starts(tree: ast.Module) -> tuple[list[int], list[int]]:
    """Lines of the stream starts of ``tree``: those inside a
    ``with _state_partitions(...)`` block, and those outside one."""
    scoped: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.With) and any(
            isinstance(item.context_expr, ast.Call)
            and _referenced(item.context_expr.func) & {"_state_partitions"}
            for item in node.items
        ):
            scoped |= {id(sub) for stmt in node.body for sub in ast.walk(stmt)}
    starts = [node for node in ast.walk(tree) if _is_stream_start(node)]
    return (
        sorted(node.lineno for node in starts if id(node) in scoped),
        sorted(node.lineno for node in starts if id(node) not in scoped),
    )


def test_every_stream_start_runs_inside_the_state_partitions_scope():
    """Every ``writeStream`` chain ending in ``.start()``, in the package
    and in its tests, sits inside a ``with _state_partitions(...)``
    block: the scope sizes the state store and sets the checkpoint
    file manager that forks no shell command, and a stream keeps both
    only if they are set when it starts."""
    paths = sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tests").glob("*.py"))
    scoped, bad = {}, {}
    for path in paths:
        inside, outside = _stream_starts(ast.parse(path.read_text()))
        if inside:
            scoped[str(path.relative_to(ROOT))] = inside
        if outside:
            bad[str(path.relative_to(ROOT))] = outside
    assert scoped, "the scan found no stream start at all"
    assert not bad, f"stream starts outside a `with _state_partitions(...)` block: {bad}"
    src = (
        "with _state_partitions(spark, 1), tmp() as d:\n"
        "    q = df.writeStream.format('memory').start()\n"
        "with events._state_partitions(spark, 2):\n"
        "    def f():\n"
        "        return df.writeStream.start()\n"
        "q = df.writeStream.format('memory').option('k', 'v').start()\n"
        "with tmp():\n"
        "    q = (df\n"
        "         .writeStream.trigger(availableNow=True)\n"
        "         .start())\n"
        "t = threading.Thread(target=f).start()\n"
    )
    assert _stream_starts(ast.parse(src)) == ([2, 5], [6, 8])
