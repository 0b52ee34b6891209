"""Every ``dexscraper_spark`` module must be reachable by imports from an
entry point: the query registry, the CLI, the bench, the benchmark
harness or a tool. A module only tests import has no caller that runs,
measures or checks it, so it is either given an entry point or deleted.

The closure follows the AST: top-level, function-local and relative
imports, plus ``__import__``/``import_module`` calls on a string literal.
No module is executed.
"""

from __future__ import annotations

import ast
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
