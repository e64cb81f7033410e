"""No module of the package imports a name at top level that it never uses.

No linter ships with the project's toolchain, so this is a stdlib-`ast` scan:
a name bound by a module-level `import` or `from ... import` counts as used
when the module loads it anywhere (`ast.Name`) or lists it in `__all__`.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "movie_genre_data_pipeline_spark"

# (module path under the package, name): imports kept on purpose
ALLOWED = {
    # perfbench/workloads.py traces the module's write_partitioned by name
    ("streaming/incremental.py", "write_partitioned"),
}


def _unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    bound = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound += [a.asname or a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound += [a.asname or a.name for a in node.names if a.name != "*"]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return [name for name in bound if name not in used]


def test_no_unused_top_level_imports():
    found = {
        (path.relative_to(PACKAGE).as_posix(), name)
        for path in sorted(PACKAGE.rglob("*.py"))
        for name in _unused_imports(path)
    }
    assert found - ALLOWED == set()
    assert ALLOWED <= found, "an allow-listed import is used or gone: drop its entry"
