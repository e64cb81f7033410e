"""Per-query implementation fingerprints — the verify-then-record contract.

VERDICT r9 #5: a query whose IMPLEMENTATION changed since its last exact
oracle check needs a fresh check (a changed plan can change results even
when the oracle is unchanged), and the class of "edited but never
re-checked" is otherwise unguarded. A query is STALE when its live
fingerprint differs from its `seating_manifest.json` entry, or it has no
entry (a new query).

The fingerprint of a query is a sha256 over:
- the source text of its query function, plus TRANSITIVELY every function
  defined in this package that is reachable by name from its code objects
  (co_names, recursing into nested code consts — foreachBatch closures,
  comprehensions), so an edit to a shared helper (bm25_from_counts,
  alpha_tokens, ranged_row_number ...) flips every query built on it;
- the SOURCE SEGMENTS of reachable module-level assignments (thresholds,
  SQL fragments, lexicons), so tuning a knob also flips the fingerprint.
  Source text, NOT live module values, on purpose: runtime-mutated globals
  (shipping's _zip_path/_shipped cache, set the first time any query runs)
  would otherwise make every fingerprint depend on what executed earlier in
  the process — the full pytest run flipped all 231 unseated fingerprints
  before this was source-based;
- the query's oracle SQL.

Pieces are keyed by their CONTENT (sha256 of the source text), not by the
defining module path — r15: the VERDICT r14 #6 split of the two 5.8k-line
suite modules into per-family submodules is a pure text move, and a
fingerprint keyed on `module.qualname` would have flipped every moved (and
transitively every helper-sharing) query without any behavioral change,
forcing a blanket amnesty that hides nothing. Content keys make "same set of
reachable source texts + same oracle" the invariant: a verbatim move cannot
flip a fingerprint, while editing one character of any reachable function,
constant, or oracle still does.

Name resolution is by bare name across ALL package modules (suite style is
function-local imports, which never appear in __globals__), which is
deliberately OVER-inclusive: a name collision can only pull in extra source
text and force a spurious re-check — never miss a real change. The one
module left out is `shipping`: every query reaches it through `suite.load`,
but packaging the engine for workers cannot change a query's rows, and
following it made a one-line edit there re-check all 403 loading queries.

`seating_manifest.json` records each query's fingerprint as of its last
passing exact check. tests/test_registry.py runs every stale query against
its DuckDB oracle with zero float tolerance on the sf0.001 fixtures
(tools/verify_local.py --exact) and fails on any mismatch;
tools/update_seating.py runs the same check and records the live
fingerprint only for the stale queries that pass it.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import pkgutil
import types
from pathlib import Path

_PKG = "movie_genre_data_pipeline_spark"
# worker packaging: reached by every query, never part of its rows (module doc)
_UNFOLLOWED = f"{_PKG}.shipping"
MANIFEST_PATH = Path(__file__).resolve().parent / "seating_manifest.json"

def _module_assign_sources(py_path: str) -> dict[str, list[str]]:
    """name -> [source segments] of module-level Assign/AnnAssign statements,
    read from the FILE (never live module state — see module doc)."""
    import ast

    text = Path(py_path).read_text()
    out: dict[str, list[str]] = {}
    try:
        tree = ast.parse(text)
    except SyntaxError:  # pragma: no cover
        return out
    for node in tree.body:
        names: list[str] = []
        if isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        if not names:
            continue
        seg = ast.get_source_segment(text, node)
        if seg is None:  # pragma: no cover
            continue
        for n in names:
            out.setdefault(n, []).append(seg)
    return out


def _package_name_map() -> dict[str, list[tuple[str, str]]]:
    """name -> [(module, source text)] over every module-level function and
    assignment in the package (cached per process). Both kinds come from
    source files, so the map is identical no matter what ran earlier in the
    process."""
    global _NAME_MAP
    try:
        return _NAME_MAP
    except NameError:
        pass
    pkg = importlib.import_module(_PKG)
    out: dict[str, list[tuple[str, str]]] = {}
    for info in pkgutil.walk_packages(pkg.__path__, prefix=f"{_PKG}."):
        if info.name == _UNFOLLOWED:
            continue
        try:
            mod = importlib.import_module(info.name)
        except Exception:  # pragma: no cover - optional deps
            continue
        for name, obj in vars(mod).items():
            if name.startswith("__"):
                continue
            if isinstance(obj, types.FunctionType) and obj.__module__ == info.name:
                try:
                    out.setdefault(name, []).append((info.name, inspect.getsource(obj)))
                except OSError:  # pragma: no cover
                    pass
        mod_file = getattr(mod, "__file__", None)
        if mod_file and mod_file.endswith(".py"):
            for name, segs in _module_assign_sources(mod_file).items():
                if name.startswith("__"):
                    continue
                out.setdefault(name, []).append(
                    (info.name, "const:" + "\n".join(segs))
                )
    _NAME_MAP = out
    return out


def _code_names(code) -> set[str]:
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def fingerprint_pieces(fn, oracle: str) -> dict[str, str]:
    """{content key: source text} of everything a query's fingerprint covers
    (see module doc)."""
    name_map = _package_name_map()
    pieces: dict[str, str] = {"__oracle__": oracle}
    frontier: list[types.FunctionType] = [fn]
    seen: set[str] = set()
    while frontier:
        f = frontier.pop()
        key = f"{f.__module__}.{f.__qualname__}"
        if key in seen:
            continue
        seen.add(key)
        try:
            src = inspect.getsource(f)
        except OSError:  # pragma: no cover
            continue
        # content-keyed (move-invariant): see module doc
        pieces["fn:" + hashlib.sha256(src.encode()).hexdigest()] = src
        for n in sorted(_code_names(f.__code__)):
            for mod, payload in name_map.get(n, []):
                if payload.startswith("const:"):
                    pieces[
                        "c:" + hashlib.sha256(payload.encode()).hexdigest()
                    ] = payload
                else:
                    g = importlib.import_module(mod)
                    cand = getattr(g, n, None)
                    if isinstance(cand, types.FunctionType):
                        frontier.append(cand)
    return pieces


def query_fingerprint(fn, oracle: str) -> str:
    """sha256 fingerprint of a query's implementation (see module doc)."""
    pieces = fingerprint_pieces(fn, oracle)
    h = hashlib.sha256()
    for key in sorted(pieces):
        h.update(key.encode())
        h.update(b"\x00")
        h.update(pieces[key].encode())
        h.update(b"\x01")
    return h.hexdigest()


def live_fingerprints() -> dict[str, str]:
    from movie_genre_data_pipeline_spark.suite import all_queries

    return {
        name: query_fingerprint(spec.fn, spec.oracle)
        for name, spec in all_queries().items()
    }


def load_manifest() -> dict[str, str]:
    if not MANIFEST_PATH.exists():
        return {}
    return json.loads(MANIFEST_PATH.read_text())


def stale_queries() -> list[str]:
    """Registry queries whose live fingerprint differs from the manifest
    (or that the manifest has never seen)."""
    manifest = load_manifest()
    return [
        name
        for name, fp in live_fingerprints().items()
        if manifest.get(name) != fp
    ]
