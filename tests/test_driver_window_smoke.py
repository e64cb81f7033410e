"""Fixture-drift gate (VERDICT r03 #4): every query in the driver's window (the
first 50 entries of the registry) runs end-to-end
against the real driver fixtures AND matches its DuckDB oracle, so a regenerated
parquet fixture (schema drift, timestamp encoding change, value refresh) fails CI
before a snapshot ships — round 3 shipped 6 red driver rows that one local run
would have caught.

Parameterized over BOTH fixture tiers the gate protects (VERDICT r04 #8):
sf0.001 (CI-cheap) and sf0.01 (the tier the driver actually scores), so a
regeneration of either is caught pre-snapshot — encodings have drifted
per-tier before (events.ts nanos→micros hit all tiers, but nothing forces a
future regeneration to be uniform).

Driver-budget split (r16, VERDICT r15 #1): the 50-query × 2-SF sweep alone
was ~5 min of the 44.5-min run that blew the driver's pytest wall clock. The
DEFAULT run keeps a one-query-per-family subset at sf0.001 — fixture drift is
a table-level event (schema/encoding/value refresh), so ANY query over a
drifted table trips it, and the per-family spread keeps every fixture table
covered. The full 50-query window at both SFs runs in the `-m slow` pass
(committed green at round close), and the round-close full-registry verify
covers sf0.01 for all 404 queries anyway.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from conftest import SF_DIR

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from verify_local import verify_queries  # noqa: E402

from movie_genre_data_pipeline_spark.suite import all_queries  # noqa: E402

WINDOW = list(all_queries())[:50]


def _family_subset() -> frozenset[str]:
    """The first window entry of each family prefix, in registry order."""
    seen: dict[str, str] = {}
    for name in WINDOW:
        fam = name.split("_", 1)[0]
        seen.setdefault(fam, name)
    return frozenset(seen.values())


@pytest.mark.parametrize(
    "sf_dir,names",
    [
        (SF_DIR, _family_subset()),
        pytest.param(SF_DIR, frozenset(WINDOW), marks=pytest.mark.slow),
        pytest.param(
            str(Path(SF_DIR).with_name("sf0.01")),
            frozenset(WINDOW),
            marks=pytest.mark.slow,
        ),
    ],
    ids=["family-subset-sf0.001", "full-window-sf0.001", "full-window-sf0.01"],
)
def test_driver_window_green_on_fixtures(spark, sf_dir, names):
    if not Path(sf_dir).is_dir():
        pytest.skip("driver fixtures not present")
    failures = verify_queries(spark, sf_dir, names=set(names))
    assert not failures, "\n".join(
        f"{name}: {'; '.join(errs)}" for name, errs in sorted(failures.items())
    )
