"""Registry ordering guarantees.

The driver's correctness gate covers only a prefix of ``queries()`` (50
entries in round 2); in that round 10 oracle-backed queries registered after
position 50 and silently lost their driver check.  These tests pin the fix:
every oracle-backed query must precede every rows-only query, so the
oracle-backed set always fits the driver's window as long as it holds at
most ``DRIVER_WINDOW`` entries.
"""

from __future__ import annotations

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import registry

DRIVER_WINDOW = 50
# Round 4 sat at exactly 50/50: the NEXT oracle-backed query would silently
# lose its driver check. Keep standing headroom so additions fail loudly at
# review time (pick a demotion) rather than silently at driver time.
HEADROOM = 2


def test_oracle_backed_queries_fit_driver_window():
    names = list(registry.all_queries())
    oracles = set(registry.all_oracles())
    prefix = set(names[: len(oracles)])
    assert oracles <= prefix, sorted(oracles - prefix)
    assert len(oracles) <= DRIVER_WINDOW - HEADROOM, (
        f"{len(oracles)} oracle-backed queries leave less than {HEADROOM} "
        f"free slots in the driver's {DRIVER_WINDOW}-entry correctness "
        f"window; demote a duplicate/thin oracle to LOCAL_ORACLES"
    )


def test_local_oracles_disjoint_and_registered():
    local = registry.local_oracles()
    assert not set(local) & set(registry.all_oracles())
    dangling = set(local) - set(registry.all_queries())
    assert not dangling, sorted(dangling)


def test_every_oracle_has_query():
    queries = registry.all_queries()
    dangling = set(registry.all_oracles()) - set(queries)
    assert not dangling, sorted(dangling)

