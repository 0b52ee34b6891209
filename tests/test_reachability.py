"""Every ``dexscraper_spark`` module must be reachable by imports from an
entry point: the query registry, the CLI, the bench, the benchmark
harness or a tool. A module only tests import has no caller that runs,
measures or checks it, so it is either given an entry point or deleted.

The closure follows the AST: top-level, function-local and relative
imports, plus ``__import__``/``import_module`` calls on a string literal.
No module is executed.

The same rule holds one level down: every top-level ``def``/``class``
of the package must be referenced by name, outside its own body, from a
non-test file (the package, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``). A reference is an AST ``Name``, an
``Attribute``, an imported alias or a string constant that is an
identifier (registry keys, ``__all__``). Decorated defs count as
reached, since ``@register`` is how registry rows are wired. The names
unreferenced when the check was added are frozen in
:data:`UNREFERENCED_ALLOWED`; the list may only shrink.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dexscraper_spark"


def _module_files() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _entry_points() -> list[Path]:
    files = [ROOT / PKG / "plans" / "registry.py", ROOT / PKG / "cli.py",
             ROOT / PKG / "__main__.py", ROOT / "bench.py",
             ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "tools").glob("*.py"))
    return [f for f in files if f.exists()]


def _imported_names(path: Path, module: str | None,
                    is_pkg: bool) -> set[str]:
    """Dotted names ``path`` imports (a ``from`` import yields both the
    module and ``module.name``, since the name may be a submodule)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    package = (module if is_pkg else module.rpartition(".")[0]) \
        if module else ""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
        elif (isinstance(node, ast.Call) and node.args
              and isinstance(node.args[0], ast.Constant)
              and isinstance(node.args[0].value, str)
              and getattr(node.func, "id", getattr(node.func, "attr", None))
              in ("__import__", "import_module")):
            out.add(node.args[0].value)
    return out


def _reachable(mods: dict[str, Path]) -> set[str]:
    by_path = {p: m for m, p in mods.items()}
    todo = [(p, by_path.get(p)) for p in _entry_points()]
    seen = {m for _, m in todo if m}  # an entry point reaches itself
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module,
                                    path.name == "__init__.py"):
            parts = name.split(".")
            # importing a.b.c also runs a and a.b
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    todo.append((mods[dotted], dotted))
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    mods = _module_files()
    unreached = sorted(set(mods) - _reachable(mods))
    assert not unreached, (
        f"modules no entry point imports (registry, CLI, bench, perfbench, "
        f"tools): {unreached}")


def test_closure_follows_local_and_relative_imports(tmp_path):
    """The walker sees imports inside functions and relative imports."""
    src = tmp_path / "m.py"
    src.write_text("def f():\n    from .sub import g\n"
                   "    import dexscraper_spark.operators.ohlc\n"
                   "    __import__('dexscraper_spark.functions.exact')\n")
    names = _imported_names(src, "dexscraper_spark.plans.m", False)
    assert {"dexscraper_spark.plans.sub", "dexscraper_spark.plans.sub.g",
            "dexscraper_spark.operators.ohlc",
            "dexscraper_spark.functions.exact"} <= names


# Top-level defs no non-test file references, frozen when the check was
# added. Remove a name once it is wired to an entry point or deleted;
# never add one.
UNREFERENCED_ALLOWED = frozenset({
    # SDK surface: table loaders for callers outside the registry
    "dexscraper_spark:load_tables",
    "dexscraper_spark.sources.tables:load_events",
    # SDK surface: partitioning-independent samplers, kept with their
    # tests after their only callers (the training-data driver and
    # ``select``) were retired
    "dexscraper_spark.operators.sampling:gumbel_topk_sample",
    "dexscraper_spark.operators.sampling:sample_deterministic",
    # socket test server (the socket source's loopback WebSocket peer)
    "dexscraper_spark.sources.websocket:WsFrameSocketServer",
    # export formats K4-K9, to be wired into the CLI's --format
    "dexscraper_spark.sinks.exporters:csv_ohlcvt_lines",
    "dexscraper_spark.sinks.exporters:mt5_lines",
    "dexscraper_spark.sinks.exporters:tradingview_document",
    "dexscraper_spark.sinks.exporters:binance_klines_document",
    "dexscraper_spark.sinks.exporters:coingecko_document",
    "dexscraper_spark.sinks.exporters:pancakeswap_document",
    # reference twin: the two-kernel form the fused media kernel
    # (decode_media_meta_features) is checked against field for field
    "dexscraper_spark.operators.multimodal:decode_media_meta",
    # the rest: no entry point runs, measures or checks them; each is
    # to be wired to one or deleted
    "dexscraper_spark.functions.formatting:fixed8",
    "dexscraper_spark.functions.lookups:base58_decodes_to_32_bytes",
    "dexscraper_spark.functions.lookups:is_known_symbol",
    "dexscraper_spark.functions.lookups:is_probable_base58_address",
    "dexscraper_spark.functions.lookups:not_blacklisted",
    "dexscraper_spark.functions.lookups:not_english_word",
    "dexscraper_spark.functions.textstats:_doc_gate_metrics",
    "dexscraper_spark.operators.bpe:bpe_load",
    "dexscraper_spark.operators.bpe:bpe_save",
    "dexscraper_spark.operators.multimodal:video_dedup",
    "dexscraper_spark.operators.sessionize:cluster_values",
    "dexscraper_spark.operators.sketch:dd_histogram",
    "dexscraper_spark.operators.sketch:dd_merge",
    "dexscraper_spark.operators.sketch:dd_quantiles",
    "dexscraper_spark.operators.sketch:kmv_merge",
    "dexscraper_spark.plans.catalog:_text_metrics_exprs",
    "dexscraper_spark.plans.curation:curation_stats",
    "dexscraper_spark.sinks.lake:write_bucketed",
    "dexscraper_spark.sinks.lake:write_ohlc",
    "dexscraper_spark.sinks.lake:write_tokens",
    "dexscraper_spark.sources.decode:parse_frame_multi_strategy",
})


def _non_test_files() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py"))
    for d in ("tools", "perfbench"):
        files += sorted(p for p in (ROOT / d).glob("*.py")
                        if not p.name.startswith("test_"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [f for f in files if f.exists()]


def _references(node: ast.AST) -> Counter:
    """Name references under ``node``: Name, Attribute, imported alias
    (last dotted part) and identifier-shaped string constants."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rpartition(".")[2]] += 1
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out[n.value] += 1
    return out


def _unreferenced_defs(mods: dict[str, Path]) -> set[str]:
    """``module:name`` of every undecorated top-level def/class whose
    name no non-test file references outside the def's own body."""
    by_path = {p: m for m, p in mods.items()}
    total: Counter = Counter()
    defs = []
    for path in _non_test_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        total.update(_references(tree))
        module = by_path.get(path)
        if module is None:
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.decorator_list):
                defs.append((module, node))
    return {f"{module}:{node.name}" for module, node in defs
            if total[node.name] - _references(node)[node.name] <= 0}


def test_every_top_level_def_is_referenced():
    new = sorted(_unreferenced_defs(_module_files()) - UNREFERENCED_ALLOWED)
    assert not new, (
        f"top-level defs no non-test file references (wire each to an "
        f"entry point or delete it; the allowlist only shrinks): {new}")


def test_unreferenced_allowlist_only_shrinks():
    stale = sorted(UNREFERENCED_ALLOWED
                   - _unreferenced_defs(_module_files()))
    assert not stale, (
        f"allowlisted names that are referenced again or no longer "
        f"exist; remove them from UNREFERENCED_ALLOWED: {stale}")


def test_def_references_skip_own_body(tmp_path):
    """Recursion and self-mentions do not count; a string key, an
    attribute and an import alias do."""
    src = tmp_path / "m.py"
    src.write_text("def f(n):\n    return f(n - 1)\n"
                   "def g():\n    pass\n"
                   "def h():\n    return ROWS['g'], mod.k\n"
                   "from x import j as alias\n")
    tree = ast.parse(src.read_text())
    total = _references(tree)
    own = {n.name: _references(n)[n.name] for n in tree.body
           if isinstance(n, ast.FunctionDef)}
    assert total["f"] - own["f"] == 0
    assert total["g"] - own["g"] == 1
    assert total["k"] == 1 and total["j"] == 1
