"""Every package module must be reachable from an entry point.

The closure follows every ``import`` / ``from ... import`` statement in
the AST, function-local ones included. The package and ``tools/`` load
nothing through ``importlib`` or ``__import__``, so the closure is
exact. A module that only tests import is dead weight: delete it with
its tests, or wire it into an entry point and list that root here.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_sentinel_imagery_spark"

ROOTS = {
    "__spark_entry__.py": "the driver contract: entry, queries, oracle_sql",
    "bench.py": "the headline benchmark",
    f"{PKG}/plans/main.py": "the paper pipeline (run, run_joined)",
    f"{PKG}/plans/corpus_pipeline.py": "the curation pipeline",
    "perfbench/*.py": "the acquisition-pipeline benchmark",
    f"{PKG}/streaming/ingest_stream.py": "README-named COPY INTO stream",
    f"{PKG}/streaming/cdf_source.py": "README-named change-feed stream",
    f"{PKG}/streaming/events.py": "README-named streaming sinks",
    f"{PKG}/sources/txlog_stream.py": "README-named txlog stream source",
    f"{PKG}/sources/odata_source.py": "OData catalog pushdown (ROADMAP C5)",
    f"{PKG}/functions/jp2.py": "the reference's JP2 band format (C2)",
    f"{PKG}/operators/multimodal.py": "media decode seam + GIF/WAV/video codecs (C6)",
}


def _package_modules() -> dict[str, str]:
    mods = {}
    pattern = os.path.join(REPO, PKG, "**", "*.py")
    for path in glob.glob(pattern, recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")]
        mods[rel.replace(os.sep, ".").removesuffix(".__init__")] = path
    return mods


def _imports(path: str, mods: dict[str, str]) -> set[str]:
    """Package modules ``path`` imports, with every parent package."""
    names = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: resolve relative imports here"
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return {
        prefix
        for name in names
        for prefix in _prefixes(name)
        if prefix in mods
    }


def _prefixes(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    todo = []
    for pattern in ROOTS:
        paths = glob.glob(os.path.join(REPO, pattern))
        assert paths, f"root {pattern} matches no file"
        todo += paths
    root_names = {
        os.path.relpath(p, REPO)[: -len(".py")].replace(os.sep, ".")
        for p in todo
    }
    reached = {m for r in root_names for m in _prefixes(r) if m in mods}
    while todo:
        for dep in _imports(todo.pop(), mods) - reached:
            reached.add(dep)
            todo.append(mods[dep])
    unreached = sorted(set(mods) - reached)
    assert not unreached, f"modules no entry point reaches: {unreached}"
