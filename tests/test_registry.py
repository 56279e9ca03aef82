"""Catalog ordering invariants — the driver's bounded verification
window (first ``registry.WINDOW`` entries of ``all_queries()``) must
always contain every query that still needs an external CORRECTNESS
row. Rounds 4-6 each accumulated "straggler" queries because a
hand-edited priority list lagged the catalog; the ordering is now
derived from the CORRECTNESS_r*.json history, and these tests pin the
properties that make the derivation self-maintaining.
"""

from __future__ import annotations

import sys
from pathlib import Path

from bfs_mapreduce_spark import registry
from bfs_mapreduce_spark.registry import WINDOW, _HEADLINERS, all_queries

CATALOG = all_queries()


def test_headliners_mirror_bench():
    # bench.py lives at the repo root (not a package); load its
    # HEADLINE list and assert the registry copy is identical so the
    # bench queries always stay co-verified in the driver window.
    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root))
    try:
        import bench
    finally:
        sys.path.pop(0)
    assert tuple(bench.HEADLINE) == _HEADLINERS


def test_headliners_lead_the_window():
    names = list(CATALOG)
    registered_heads = [h for h in _HEADLINERS if h in CATALOG]
    assert names[: len(registered_heads)] == registered_heads


def test_every_oracle_query_certified_or_in_window():
    """The self-maintaining invariant (VERDICT r06 ask 1): every
    oracle-paired query either already has a historical hash-green
    driver row, or sorts inside the first WINDOW entries so it earns
    one this round. A failure here means the catalog grew faster than
    the window can absorb — split the additions across rounds."""
    last_hash, _ = registry._green_history()
    names = list(CATALOG)
    window = set(names[:WINDOW])
    missing = [
        name
        for name, q in CATALOG.items()
        if q.oracle is not None and name not in last_hash and name not in window
    ]
    assert missing == [], f"oracle-paired queries that would never be certified: {missing}"


def test_never_green_sort_before_rotated():
    """Within the oracle-paired block after the headliners, every
    never-certified query precedes every already-certified one."""
    last_hash, _ = registry._green_history()
    heads = set(_HEADLINERS)
    seen_certified = False
    for name, q in CATALOG.items():
        if name in heads or q.oracle is None:
            continue
        if name in last_hash:
            seen_certified = True
        else:
            assert not seen_certified, f"never-green {name} sorted after a certified query"


def test_rows_only_sort_last_except_reserved_slots():
    """Rows-only queries form the catalog tail — EXCEPT the reserved
    window slots (registry.ROWS_ONLY_SLOTS), which lift the most-
    starved rows-only queries into the driver's verification window."""
    names = list(CATALOG)
    reserved = set(names[WINDOW - registry.ROWS_ONLY_SLOTS : WINDOW])
    kinds = [
        q.oracle is None
        for name, q in CATALOG.items()
        if name not in _HEADLINERS and name not in reserved
    ]
    first_rows_only = kinds.index(True) if True in kinds else len(kinds)
    assert all(kinds[first_rows_only:]), "rows-only queries must form the catalog tail"


def test_reserved_slots_lift_starved_rows_only():
    """The window's last ROWS_ONLY_SLOTS entries are rows-only,
    non-headliner, and exactly the most-starved ones: never-rows-green
    first, then least-recently rows-green. This is what guarantees
    every rows-only query earns an external driver row within
    ceil(n_rows_only / ROWS_ONLY_SLOTS) rounds."""
    _, last_rows = registry._green_history()
    names = list(CATALOG)
    got = names[WINDOW - registry.ROWS_ONLY_SLOTS : WINDOW]
    pool = [
        name
        for name, q in CATALOG.items()
        if q.oracle is None and name not in _HEADLINERS
    ]
    assert len(got) == registry.ROWS_ONLY_SLOTS
    for name in got:
        assert CATALOG[name].oracle is None and name not in _HEADLINERS
    # starvation order: every reserved query is at least as starved as
    # every non-reserved rows-only query (never-green < round k < round k+1)
    def starved_rank(n):
        return last_rows.get(n, -1)

    worst_reserved = max(starved_rank(n) for n in got)
    rest = [n for n in pool if n not in got]
    if rest:
        assert worst_reserved <= min(starved_rank(n) for n in rest)


def test_rotation_is_least_recently_green():
    """Certified oracle-paired queries (outside the headliners) are
    ordered by ascending last-green round, so the window cycles
    through the whole catalog across rounds."""
    last_hash, _ = registry._green_history()
    heads = set(_HEADLINERS)
    rounds = [
        last_hash[name]
        for name, q in CATALOG.items()
        if q.oracle is not None and name not in heads and name in last_hash
    ]
    assert rounds == sorted(rounds)


# Oracle-paired entries that share one oracle on purpose: each pair
# reads a different source or runs on a different engine (batch vs
# streaming, one file format vs another), so both sides are checked.
_SHARED_ORACLE_PAIRS = {
    frozenset({"q_scan_edgelist_source", "q_stream_edgelist_degree"}),
    frozenset({"q_scan_avro", "q_stream_avro_stats"}),
    frozenset({"q_text_pii_mask", "q_stream_pii_mask"}),
    frozenset({"q_scan_xml", "q_scan_orc"}),
    frozenset({"q_events_tumbling", "q_stream_tumbling"}),
}


def test_no_silent_duplicate_catalog_entries():
    """Two catalog names with one oracle (after whitespace
    normalisation) run the same check twice, usually because one plan
    is registered under two names. Every such group must be a pair on
    the allow-list above."""
    groups: dict[str, set[str]] = {}
    for name, q in CATALOG.items():
        if q.oracle is not None:
            groups.setdefault(" ".join(q.oracle.split()), set()).add(name)
    dups = [
        sorted(names)
        for names in groups.values()
        if len(names) > 1 and frozenset(names) not in _SHARED_ORACLE_PAIRS
    ]
    assert dups == [], f"catalog entries sharing one oracle: {dups}"
