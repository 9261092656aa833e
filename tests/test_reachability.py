"""Every ``srpr_lsh_spark`` module is reached from an entry point (Spark-free).

Walks the ``import`` / ``from … import`` statements (function-local ones
included) of the driver entry, the bench CLIs, ``tools/*.py`` and
``perfbench/*.py``, then follows package imports transitively. A module that
no entry point reaches is dead weight: delete it, or wire it into a stage,
declared query or bench that exercises it."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "srpr_lsh_spark"


def _entry_points() -> "list[Path]":
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    return roots + sorted((ROOT / "tools").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))


def _module_path(name: str) -> "Path | None":
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _package_modules() -> "set[str]":
    out = set()
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def _imported(path: Path, own: str) -> "set[str]":
    """Package modules named by the imports in ``path`` (``own`` is the
    file's dotted module name, for relative imports), with every parent
    package, since importing a submodule runs its parents' ``__init__``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative: anchor at the file's own package
                pkg = own.split(".")
                if path.name != "__init__.py":
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join([*pkg, base] if base else pkg)
            names.add(base)
            # ``from pkg import sub`` may name a submodule
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        if parts[0] != PKG:
            continue
        for i in range(1, len(parts) + 1):
            if _module_path(".".join(parts[:i])) is not None:
                out.add(".".join(parts[:i]))
    return out


def reached_modules() -> "set[str]":
    todo = set()
    for p in _entry_points():
        todo |= _imported(p, p.stem)
    seen: "set[str]" = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= _imported(_module_path(name), name) - seen
    return seen


def test_every_package_module_is_reached():
    unreached = sorted(_package_modules() - reached_modules())
    assert not unreached, f"modules no entry point imports: {unreached}"
