"""Every ``srpr_lsh_spark`` module and top-level function or class is reached
from an entry point (Spark-free).

Module level: walks the ``import`` / ``from … import`` statements
(function-local ones included) of the driver entry, the bench CLIs,
``tools/*.py`` and ``perfbench/*.py``, then follows package imports
transitively.

Function level: a top-level ``def`` or ``class`` of a reached module is
reached when its name appears as an ast ``Name`` or ``Attribute`` in an entry
point, in the module-level code of a reached module, or inside a definition
that is itself reached. Matching is by bare name, so a name reached anywhere
covers every definition of it.

Dead weight either way: delete it, or wire it into a stage, declared query or
bench that exercises it. ``PINNED`` lists the exceptions."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "srpr_lsh_spark"

# Reference re-expressions no entry point calls but tests pin; each is also a
# root of the function-level walk, so what it calls counts as reached.
PINNED = {
    # G.711 encoder: builds the μ-law/A-law fixtures the decoder is tested on
    "srpr_lsh_spark.kernels.audio.encode_g711_wav",
    # scalar SNR: the oracle batch_pair_snr_db is tested against
    "srpr_lsh_spark.kernels.audio.pair_snr_db",
    # scalar Jaccard: the oracle batch_jaccard is tested against
    "srpr_lsh_spark.kernels.text.jaccard",
    # Eq. 9 on raw vectors (SRPRModel.h:149-156), pinned by hand values
    "srpr_lsh_spark.kernels.srpr_math.p_srp",
    # the reference's ratings / triplets CSV inputs (DataManager.h)
    "srpr_lsh_spark.sources.readers.read_ratings_csv",
    "srpr_lsh_spark.sources.readers.read_triplets_csv",
    # the reference's binary vector cache (DataManager.h:50), round-trip tested
    "srpr_lsh_spark.ml.vectors_io.save_vectors",
    "srpr_lsh_spark.ml.vectors_io.load_vectors",
    # the reference's bits sweep and its speedup table (main.cpp:122-166)
    "srpr_lsh_spark.plans.sweep.sweep_bits",
    "srpr_lsh_spark.plans.sweep.speedup_csv",
}


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


def _names(node: ast.AST) -> "set[str]":
    """Every ``Name`` id and ``Attribute`` attr under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_definitions() -> "set[str]":
    """Dotted names of top-level definitions in reached modules that no
    entry point reaches by name (``PINNED`` entries count as reached)."""
    defs: "dict[str, list[tuple[str, ast.AST]]]" = {}
    todo: "set[str]" = set()
    for p in _entry_points():
        todo |= _names(ast.parse(p.read_text(), str(p)))
    for mod in reached_modules():
        path = _module_path(mod)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append((mod, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                todo |= _names(node)  # module-level code runs on import
    todo |= {q.rsplit(".", 1)[1] for q in PINNED}
    seen: "set[str]" = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, ()):
            todo |= _names(node) - seen
    return {f"{mod}.{name}" for name, found in defs.items() if name not in seen
            for mod, _ in found}


def test_every_package_definition_is_reached():
    unreached = sorted(unreached_definitions())
    assert not unreached, f"definitions no entry point reaches: {unreached}"


def test_pinned_definitions_exist():
    """A stale ``PINNED`` entry would hide nothing but still read as a
    reason; keep the list to definitions that exist."""
    have = set()
    for mod in reached_modules():
        path = _module_path(mod)
        have |= {f"{mod}.{n.name}" for n in ast.parse(path.read_text()).body
                 if isinstance(n, _DEF)}
    assert PINNED <= have, sorted(PINNED - have)
