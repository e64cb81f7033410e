"""Ship this package to Python workers so closures resolve it anywhere.

mapInPandas / pandas-UDF closures reference ``movie_genre_data_pipeline_spark``
by module name; pickle sends only the reference, and each Python WORKER resolves
the import from its own ``sys.path`` — which starts at the worker's cwd, not the
driver's. Launch the driver from any directory other than the repo root (or on a
real cluster, where executors never share the driver's filesystem layout) and
every Arrow-batched query dies with ``ModuleNotFoundError`` on the worker.

The portable fix is the standard Spark deployment move: zip the package once per
driver process and ``SparkContext.addPyFile`` it — Spark distributes the zip to
every executor and prepends it to each worker's ``sys.path``. Local mode and a
1000-executor cluster take the identical code path, so the correctness gate and
production deployment stop depending on the driver's cwd.

``ensure_package_on_workers`` is idempotent per SparkContext and costs one
~100 KB zip + one addPyFile on first use; suite queries call it via
``suite.load`` so ANY session the driver hands us — vanilla or tuned — gets the
package shipped before the first worker-side import runs.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PACKAGE_ROOT = Path(__file__).resolve().parent
_PACKAGE_NAME = _PACKAGE_ROOT.name

# SparkContexts already shipped to, keyed by (applicationId, startTime) so a
# stop/restart cycle re-ships. Driver-process-local by construction.
_shipped: set[tuple[str, int]] = set()

_zip_path: str | None = None


def _build_zip() -> str:
    """Zip the package source once per driver process (importable zip layout:
    ``<name>/__init__.py`` at the archive root); the zip is removed at
    interpreter exit."""
    global _zip_path
    if _zip_path is not None and os.path.exists(_zip_path):
        return _zip_path
    fd, path = tempfile.mkstemp(prefix=f"{_PACKAGE_NAME}-", suffix=".zip")
    os.close(fd)
    atexit.register(Path(path).unlink, missing_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for src in sorted(_PACKAGE_ROOT.rglob("*.py")):
            if "__pycache__" in src.parts:
                continue
            zf.write(src, f"{_PACKAGE_NAME}/{src.relative_to(_PACKAGE_ROOT)}")
    _zip_path = path
    return path


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``import movie_genre_data_pipeline_spark`` work on Python workers
    regardless of the driver's cwd. Idempotent per SparkContext."""
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime)
    if key in _shipped:
        return
    sc.addPyFile(_build_zip())
    _shipped.add(key)
