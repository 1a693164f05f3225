"""Every package-internal import resolves, without starting Spark.

Each `.py` under `go_data_publisher_spark/` is parsed with `ast`, and every
`import` / `from ... import` that names the package (absolute) or is
relative is resolved against the source tree — function-local imports
included, which importing the modules would never execute.  A target must be
an existing module; a name imported *from* a module must be a submodule or
be bound at that module's top level.

The same resolver walks the imports of the entry points (the query contract,
the CLI, the bench scripts and the benchmark harness): every package module
must be reached from one of them, and so must every top-level function and
class of a package module, bar a short commented allow-list.  A top-level
function or class is reached when a non-test file imports it by name, or
reads it as an attribute of a package module that file imports (as
``D.last_wins`` after ``from ...operators import dedup as D``).  A method of
a top-level package class is reached when a non-test file reads its name as
an attribute, or when it overrides a method of a non-package base.
"""

from __future__ import annotations

import ast
import builtins
import importlib
from pathlib import Path

PKG = "go_data_publisher_spark"
ROOT = Path(__file__).resolve().parent.parent
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
ENTRY_POINTS = ("__spark_entry__.py", "run_pipeline.py", "bench.py",
                "bench_extra.py", "bench_scaling.py", "perfbench/*.py")
# Package functions that no entry point reaches but that stay on purpose.
KEEP_UNREACHED = {
    # the expression form test_simhash_vectorized_matches_expression_form
    # checks the vectorized simhash64 against
    f"{PKG}.functions.text.simhash64_expr",
    # the Kafka source builder: no broker runs in the test environment, so
    # test_kafka_reader_builder pins its options instead
    f"{PKG}.streaming.pipeline.kafka_reader",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level, looking through if/try/with/for blocks
    but not into function or class bodies."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text()).body)
    while todo:
        s = todo.pop()
        if isinstance(s, _SCOPES):
            names.add(s.name)
            continue
        if isinstance(s, (ast.Import, ast.ImportFrom)):
            names.update(a.asname or a.name.split(".")[0] for a in s.names)
        for t in getattr(s, "targets", []) + [getattr(s, "target", None)]:
            if t is not None:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        for field in ("body", "orelse", "finalbody"):
            todo.extend(getattr(s, field, []))
        for h in getattr(s, "handlers", []):
            todo.extend(h.body)
    return names


def _imports(source: str, module: str, is_package: bool = False):
    """(line, target module, names imported from it) for every import in
    ``source`` (the text of ``module``) that names the package or is
    relative."""
    package = module if is_package else module.rpartition(".")[0]
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            target = _from_target(node, package)
            if target is not None:
                yield node.lineno, target, [a.name for a in node.names]


def _from_target(node: ast.ImportFrom, package: str) -> str | None:
    """The module a ``from ... import`` in ``package`` imports from, or None
    when it names no package module and is not relative."""
    if node.level:
        parts = package.split(".")
        base = parts[: len(parts) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))
    if node.module == PKG or (node.module or "").startswith(PKG + "."):
        return node.module
    return None


def _module_attribute_reads(source: str, module: str,
                            is_package: bool = False) -> set[str]:
    """Qualified names ``source`` (the text of ``module``) reads as an
    attribute of a package module it imports: ``D.last_wins`` after
    ``from go_data_publisher_spark.operators import dedup as D`` reads
    ``go_data_publisher_spark.operators.dedup.last_wins``."""
    package = module if is_package else module.rpartition(".")[0]
    tree = ast.parse(source)
    bound: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    bound[a.asname or PKG] = a.name if a.asname else PKG
        elif (isinstance(node, ast.ImportFrom)
              and (target := _from_target(node, package)) is not None):
            bound.update((a.asname or a.name, f"{target}.{a.name}")
                         for a in node.names
                         if _module_file(f"{target}.{a.name}"))
    reads = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            head, _, rest = ast.unparse(n.value).partition(".")
            if head in bound:
                reads.add(".".join(p for p in (bound[head], rest, n.attr) if p))
    return reads


def _unresolved(source: str, module: str, is_package: bool = False) -> list[str]:
    """Package-internal imports in ``source`` (the text of ``module``) whose
    target module or imported name does not exist."""
    problems = []
    for lineno, target, names in _imports(source, module, is_package):
        target_file = _module_file(target)
        if target_file is None:
            problems.append(f"line {lineno}: no module {target}")
            continue
        for name in names:
            if (name != "*" and not _module_file(f"{target}.{name}")
                    and name not in _top_level_names(target_file)):
                problems.append(f"line {lineno}: {target} has no {name}")
    return problems


def _entry_files() -> list[Path]:
    return [p for pattern in ENTRY_POINTS for p in sorted(ROOT.glob(pattern))]


def _reached_files() -> set[Path]:
    """Files imported, transitively, from ``ENTRY_POINTS``, function-local
    imports included."""
    todo = _entry_files()
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for _, target, names in _imports(path.read_text(), _module_name(path),
                                         path.name == "__init__.py"):
            if target != PKG and not target.startswith(PKG + "."):
                continue
            for mod in (target, *(f"{target}.{n}" for n in names)):
                # importing a module runs every enclosing package's __init__
                parts = mod.split(".")
                todo.extend(f for i in range(1, len(parts) + 1)
                            if (f := _module_file(".".join(parts[:i]))))
    return seen


def _non_test_sources():
    """(source, module name, is package) for each entry point and package
    file, plus each top-level string constant of an entry file that parses
    as Python (a script the entry point runs in a child process)."""
    for path in _entry_files():
        source = path.read_text()
        yield source, _module_name(path), False
        for s in ast.parse(source).body:
            if (isinstance(s, ast.Assign) and isinstance(s.value, ast.Constant)
                    and isinstance(s.value.value, str)):
                try:
                    ast.parse(s.value.value)
                except SyntaxError:
                    continue
                yield s.value.value, _module_name(path), False
    for path in sorted((ROOT / PKG).rglob("*.py")):
        yield path.read_text(), _module_name(path), path.name == "__init__.py"


def _non_test_reads() -> tuple[set[str], set[str]]:
    """The qualified names non-test sources import or read as an attribute
    of an imported package module, and the attribute names they read."""
    qualified: set[str] = set()
    attributes: set[str] = set()
    for source, module, is_package in _non_test_sources():
        qualified.update(f"{target}.{n}" for _, target, names
                         in _imports(source, module, is_package) for n in names)
        qualified |= _module_attribute_reads(source, module, is_package)
        attributes.update(n.attr for n in ast.walk(ast.parse(source))
                          if isinstance(n, ast.Attribute)
                          and isinstance(n.ctx, ast.Load))
    return qualified, attributes


def _unreached_functions() -> list[str]:
    """Top-level functions and classes of package modules that no non-test
    file imports by name or reads as an attribute of their module, and that
    their own module reads nowhere outside their own body."""
    reached, _ = _non_test_reads()
    unreached = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        module = _module_name(path)
        body = ast.parse(path.read_text()).body
        reads = [{n.id for n in ast.walk(s)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
                 for s in body]
        for i, s in enumerate(body):
            if not isinstance(s, _SCOPES):
                continue
            own_module = set().union(*reads[:i], *reads[i + 1:])
            qualified = f"{module}.{s.name}"
            if qualified not in reached and s.name not in own_module:
                unreached.append(qualified)
    return unreached


def _inherited_names(body: list[ast.stmt]) -> dict[str, set[str]]:
    """For each top-level class in ``body``, the attribute names its
    non-package bases define (``object``'s always among them), looking
    through the module's own classes.  A base is resolved through the
    module's absolute ``from ... import`` statements, else as a builtin."""
    imported = {a.asname or a.name: (s.module, a.name) for s in body
                if isinstance(s, ast.ImportFrom) and not s.level
                for a in s.names}
    classes = {s.name: s for s in body if isinstance(s, ast.ClassDef)}

    def names(cls: ast.ClassDef) -> set[str]:
        out = set(dir(object))
        for base in map(ast.unparse, cls.bases):
            if base in classes:
                out |= names(classes[base])
            elif base in imported:
                module, name = imported[base]
                out |= set(dir(getattr(importlib.import_module(module), name)))
            else:
                out |= set(dir(getattr(builtins, base)))
        return out

    return {name: names(cls) for name, cls in classes.items()}


def _unreached_methods() -> list[str]:
    """Methods of top-level package classes whose name no non-test file
    reads as an attribute and that override no non-package base (a
    ``StreamingQueryListener`` callback is called by PySpark)."""
    _, attributes = _non_test_reads()
    unreached = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        body = ast.parse(path.read_text()).body
        inherited = _inherited_names(body)
        for cls in body:
            if not isinstance(cls, ast.ClassDef):
                continue
            unreached.extend(
                f"{_module_name(path)}.{cls.name}.{f.name}" for f in cls.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                and f.name not in attributes
                and f.name not in inherited[cls.name])
    return unreached


def test_package_internal_imports_resolve():
    files = sorted((ROOT / PKG).rglob("*.py"))
    assert len(files) > 20
    problems = [
        f"{path.relative_to(ROOT)} {p}"
        for path in files
        for p in _unresolved(path.read_text(), _module_name(path),
                             path.name == "__init__.py")
    ]
    assert not problems, "\n".join(problems)


def test_every_module_is_reached_from_an_entry_point():
    reached = _reached_files()
    unreached = [str(path.relative_to(ROOT))
                 for path in sorted((ROOT / PKG).rglob("*.py"))
                 if path.name != "__init__.py" and path not in reached]
    assert not unreached, "imported by no entry point:\n" + "\n".join(unreached)


def test_every_package_function_is_reached():
    unreached = _unreached_functions() + _unreached_methods()
    new = [f for f in unreached if f not in KEEP_UNREACHED]
    assert not new, ("no query, CLI verb, pipeline or bench script "
                     "reaches:\n" + "\n".join(new))
    stale = sorted(KEEP_UNREACHED.difference(unreached))
    assert not stale, "reached or gone, drop from KEEP_UNREACHED:\n" + "\n".join(stale)


def test_resolver_flags_function_local_imports():
    src = (
        "from .table import TranscriptTable\n"
        "def f():\n"
        "    from .table import fold_epoch_state\n"
        "    from .table import no_such_name\n"
        "    from .gone import Thing\n"
        "    from ..operators import routing, no_such_module\n"
        "    import go_data_publisher_spark.lake.missing\n"
    )
    assert _unresolved(src, f"{PKG}.lake.probe") == [
        "line 4: go_data_publisher_spark.lake.table has no no_such_name",
        "line 5: no module go_data_publisher_spark.lake.gone",
        "line 6: go_data_publisher_spark.operators has no no_such_module",
        "line 7: no module go_data_publisher_spark.lake.missing",
    ]
