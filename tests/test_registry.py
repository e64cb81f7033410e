"""Registry contracts.

Order: the driver's correctness gate samples the first 50 entries of
``queries()``, so declaration order is load-bearing (VERDICT r01 #1). It is
derived, not curated: ``all_queries()`` round-robins queries across the
suite modules, and rejects any query without an oracle. The tests below pin
that rule's consequences.

Verify-then-record: ``seating_manifest.json`` holds each query's
implementation fingerprint (suite/_seating.py) as of its last exact oracle
check. A query whose live fingerprint differs from its entry, or that has
none, is stale; `test_changed_queries_pass_exact_oracle_check` runs every
stale query against its DuckDB oracle with zero float tolerance, and
tools/update_seating.py records a fingerprint only after that same check
passes.
"""

import sys
from pathlib import Path

import pytest
from conftest import SF_DIR

from movie_genre_data_pipeline_spark.suite import all_queries

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from verify_local import verify_queries  # noqa: E402


def test_driver_window_is_first_50():
    """Every suite module that holds an oracled query has one in the first
    50 — the round-robin rule, whatever the modules hold."""
    import importlib
    import pkgutil

    from movie_genre_data_pipeline_spark import suite

    first_50 = set(list(all_queries())[:50])
    unsampled = []
    for info in pkgutil.iter_modules(suite.__path__):
        mod = importlib.import_module(f"{suite.__name__}.{info.name}")
        oracled = {n for n, s in getattr(mod, "QUERIES", {}).items() if s.oracle}
        if oracled and not oracled & first_50:
            unsampled.append(info.name)
    assert unsampled == []


def test_driver_window_all_oracled():
    q = all_queries()
    unoracled = [n for n in list(q)[:50] if q[n].oracle is None]
    assert unoracled == []


def test_rows_only_queries_sorted_last():
    q = all_queries()
    names = list(q)
    first_rows_only = next(
        (i for i, n in enumerate(names) if q[n].oracle is None), len(names)
    )
    # every entry after the first rows-only query is also rows-only
    assert all(q[n].oracle is None for n in names[first_rows_only:])
    # so the 50 driver-sampled entries all carry an oracle
    assert first_rows_only >= 50


def test_query_without_oracle_is_rejected(monkeypatch):
    """A query registered without an oracle fails the registry loudly instead
    of being ordered after the driver-sampled window."""
    from movie_genre_data_pipeline_spark.suite import QuerySpec, format_queries

    spec = next(iter(format_queries.QUERIES.values()))
    monkeypatch.setattr(
        format_queries,
        "QUERIES",
        {**format_queries.QUERIES, "oracle_less_probe": QuerySpec(spec.fn, None)},
    )
    with pytest.raises(ValueError, match="oracle_less_probe"):
        all_queries()


def test_documented_query_counts_match_registry():
    """README/COVERAGE advertise the registry size; both rounds 4 and 5 shipped
    stale counts, so pin the documented numbers to ``all_queries()`` — this
    test fails the moment the docs and the registry diverge (VERDICT r05 #3)."""
    import re
    from pathlib import Path

    q = all_queries()
    total, oracled = len(q), sum(1 for s in q.values() if s.oracle is not None)
    root = Path(__file__).resolve().parent.parent

    readme = (root / "README.md").read_text()
    m = re.search(r"(\d+) named queries.*?\((\d+) oracle-checked", readme, re.S)
    assert m, "README.md no longer states the query counts"
    assert (int(m.group(1)), int(m.group(2))) == (total, oracled), (
        f"README claims {m.group(1)}/{m.group(2)}, registry has {total}/{oracled}"
    )

    coverage = (root / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) queries total; (\d+) oracle-checked", coverage)
    assert m, "COVERAGE.md no longer states the query counts"
    assert (int(m.group(1)), int(m.group(2))) == (total, oracled), (
        f"COVERAGE claims {m.group(1)}/{m.group(2)}, registry has {total}/{oracled}"
    )


def test_driver_window_samples_every_family():
    # r8: floor relaxed from >=2 to >=1 — the debt-clearing rotation packs 45
    # of 50 slots with fixed-reds + never-driver-checked entries (VERDICT r7
    # #1), leaving 5 canary slots spread one-per-headline-family.
    prefixes = {
        "dedup_": 0,
        "sim_": 0,
        "text_": 0,
        "media_": 0,
        "stream_": 0,
        "tpch_": 0,
    }
    for name in list(all_queries())[:50]:
        for p in prefixes:
            if name.startswith(p):
                prefixes[p] += 1
    assert all(v >= 1 for v in prefixes.values()), prefixes


def test_changed_queries_pass_exact_oracle_check(spark):
    """VERDICT r9 #5: a query whose implementation fingerprint (transitive
    function sources + reachable constants + oracle SQL, suite/_seating.py)
    differs from its manifest entry — or a new query with no entry — must
    match its DuckDB oracle exactly (zero float tolerance) on the fixtures:
    a changed plan needs a fresh check even when the oracle is unchanged."""
    from movie_genre_data_pipeline_spark.suite import _seating

    if not Path(SF_DIR).is_dir():
        pytest.skip("driver fixtures not present")
    failures = verify_queries(
        spark, SF_DIR, names=set(_seating.stale_queries()), exact=True
    )
    assert not failures, "\n".join(
        f"{name}: {'; '.join(errs)}" for name, errs in sorted(failures.items())
    )


def test_seating_detects_a_synthetic_edit(monkeypatch):
    """The contract must actually fire: perturb one manifest fingerprint
    (equivalent to editing that query's implementation) and assert the
    checker reports that query as stale."""
    from movie_genre_data_pipeline_spark.suite import _seating

    manifest = _seating.load_manifest()
    victim = min(manifest)
    forged = dict(manifest)
    forged[victim] = "0" * 64
    monkeypatch.setattr(_seating, "load_manifest", lambda: forged)
    assert victim in _seating.stale_queries()


def test_verify_queries_rejects_unknown_names():
    """A misspelled name must fail loudly, not check nothing and report 0
    failures (no Spark session or fixture needed: names are checked first)."""
    with pytest.raises(ValueError, match="sim_topk_ivff"):
        verify_queries(None, "unused", names={"sim_topk_ivf", "sim_topk_ivff"})


def test_bench_headline_set_is_pinned_to_detail():
    """VERDICT r9 #8: the bench headline list grew every round, which makes
    cross-round totals apples-to-oranges and inflates wall-noise
    sensitivity. bench.py's HEADLINE is the single pinned definition; every
    name must exist in the registry, and the committed BENCH_DETAIL.json
    must cover exactly that set — adding a headline query without re-running
    bench.py (or editing the detail file by hand) fails here."""
    import json
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    try:
        import bench
    finally:
        sys.path.remove(str(root))

    q = all_queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert missing == [], f"HEADLINE names not in the registry: {missing}"

    detail = json.loads((root / "BENCH_DETAIL.json").read_text())
    assert sorted(detail["queries"]) == sorted(bench.HEADLINE), (
        "BENCH_DETAIL.json and bench.HEADLINE diverged — re-run bench.py "
        "after any headline change"
    )


@pytest.mark.slow  # r16 driver-budget: heavy member; runs in the -m slow pass
def test_fingerprints_ignore_runtime_module_state():
    """The full r10 pytest run flipped all 231 unseated fingerprints because
    shipping's _zip_path/_shipped cache (set the first time any query runs)
    leaked into the name map. Fingerprints are source-derived now: mutate
    exactly those globals and assert no fingerprint moves."""
    import movie_genre_data_pipeline_spark.shipping as sh
    from movie_genre_data_pipeline_spark.suite import _seating

    before = _seating.live_fingerprints()
    old_zip, old_shipped = sh._zip_path, set(sh._shipped)
    try:
        sh._zip_path = "/tmp/fake_runtime_state.zip"
        sh._shipped.add(("app-synthetic", 1))
        if hasattr(_seating, "_NAME_MAP"):
            del _seating._NAME_MAP  # force a rebuild under the mutated state
        after = _seating.live_fingerprints()
    finally:
        sh._zip_path, sh._shipped = old_zip, old_shipped
        if hasattr(_seating, "_NAME_MAP"):
            del _seating._NAME_MAP
    assert before == after
