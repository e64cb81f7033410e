"""Record verified fingerprints in seating_manifest.json.

Usage:
  python tools/update_seating.py            # verify stale queries, record passes
  python tools/update_seating.py --report   # print stale (changed) queries

A query is stale when its live implementation fingerprint
(suite/_seating.py) differs from its manifest entry, or it has none. The
default mode runs every stale query against its DuckDB oracle with zero
float tolerance on the sf0.001 fixtures — the check
tests/test_registry.py::test_changed_queries_pass_exact_oracle_check runs —
and writes the live fingerprint only for the queries that pass. A failing
query keeps its stale entry and is listed; the exit status is 1.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))


def main() -> int:
    from conftest import SF_DIR  # the fixture tier the test suite verifies on
    from verify_local import verify_queries

    from movie_genre_data_pipeline_spark.suite._seating import (
        MANIFEST_PATH,
        live_fingerprints,
        load_manifest,
    )

    live = live_fingerprints()
    manifest = load_manifest()
    stale = [name for name, fp in live.items() if manifest.get(name) != fp]
    if "--report" in sys.argv:
        for name in sorted(stale):
            print(name)
        print(f"{len(stale)} stale fingerprints")
        return 0

    failures: dict[str, list[str]] = {}
    if stale:
        from movie_genre_data_pipeline_spark.session import build_session

        spark = build_session(app_name="update-seating")
        failures = verify_queries(
            spark, SF_DIR, names=set(stale), verbose=True, exact=True
        )
    verified = [name for name in stale if name not in failures]
    for name in verified:
        manifest[name] = live[name]
    # drop entries for queries that left the registry
    manifest = {n: fp for n, fp in manifest.items() if n in live}
    MANIFEST_PATH.write_text(json.dumps(manifest, indent=0, sort_keys=True) + "\n")
    print(f"recorded {len(verified)} verified entries ({len(manifest)} total)")
    if failures:
        print(f"{len(failures)} stale queries failed, not recorded: {sorted(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
