"""Gate-window tripwires: the driver's correctness gate reads the FIRST 50
`queries()` entries. Since round 6 the window is the EXPLICIT
`catalog.GATE_WINDOW` list, so the failure modes shift from silent
displacement to list drift — these pins catch:

- GATE_WINDOW not actually occupying positions 0-49 of queries();
- a typo'd name in GATE_WINDOW / _OVERFLOW_TAIL matching nothing;
- a window entry losing its value-hash oracle (every gated row must be a
  STRONG check — rows-only entries stay outside the window);
- an out-of-window entry without local oracle coverage;
- a legacy-bench row naming a query the registry no longer has;
- a tail reason claiming an entry is covered "in-window by" a query that
  holds no window slot;
- a window entry also listed in the tail.
"""

from __future__ import annotations

import inspect
import re

from cargo_chat_spark.queries import catalog

WINDOW = 50

# EMPTY since round 10 (r9 verdict item 4): the approximate gates
# (distinct_counts_approx, weekly_hll_rollup, ivf_topk_trained_live)
# value-hash their deterministic error/recall-bound booleans instead of
# engine-specific sketch estimates — every registry entry carries a
# value-hash oracle.
ROWS_ONLY_OK: set[str] = set()


def test_gate_window_is_the_first_fifty():
    names = list(catalog.SPARK_QUERIES)
    assert len(names) >= WINDOW, "registry shrank below the gate window"
    assert names[:WINDOW] == catalog.GATE_WINDOW, (
        "queries() iteration order no longer leads with GATE_WINDOW — "
        "the driver would gate the wrong entries"
    )


def test_gate_window_exactly_fifty_unique_resolving_names():
    assert len(catalog.GATE_WINDOW) == WINDOW
    assert len(set(catalog.GATE_WINDOW)) == WINDOW, "duplicates in GATE_WINDOW"
    unknown = [n for n in catalog.GATE_WINDOW if n not in catalog.SPARK_QUERIES]
    assert not unknown, f"GATE_WINDOW names match no registered query: {unknown}"


def test_gate_window_entries_all_have_value_hash_oracles():
    weak = [n for n in catalog.GATE_WINDOW if n not in catalog.ORACLE_SQL]
    assert not weak, (
        f"in-window entries without oracle SQL (would gate rows-only): {weak}"
    )


def test_tail_names_all_resolve():
    unknown = [n for n in catalog._OVERFLOW_TAIL if n not in catalog.SPARK_QUERIES]
    assert not unknown, f"_OVERFLOW_TAIL names match no registered query: {unknown}"


def test_tail_and_window_are_disjoint():
    """_reorder() keeps a window name in the window, so listing it in the
    tail only gives it a demotion reason that does not apply."""
    both = sorted(set(catalog._OVERFLOW_TAIL) & set(catalog.GATE_WINDOW))
    assert not both, f"names in both _OVERFLOW_TAIL and GATE_WINDOW: {both}"


def test_out_of_window_entries_keep_local_oracle_coverage():
    """Ungated entries must still be locally checkable: every registered
    query outside the window needs oracle SQL unless it is a documented
    rows-only op."""
    window = set(catalog.GATE_WINDOW)
    missing = [
        n
        for n in catalog.SPARK_QUERIES
        if n not in window
        and n not in catalog.ORACLE_SQL
        and n not in ROWS_ONLY_OK
    ]
    assert not missing, f"out-of-window entries without oracle SQL: {missing}"


def test_every_never_gated_entry_is_window_or_planned():
    """No registry entry may fall through the rotation: anything outside
    the window must either already carry an external CORRECTNESS_r* row
    or be a documented tail duplicate."""
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gated: set[str] = set()
    for fn in sorted(os.listdir(here)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            try:
                with open(os.path.join(here, fn)) as f:
                    gated |= set(json.load(f).keys())
            except (OSError, ValueError):
                continue
    accounted = set(catalog.GATE_WINDOW) | set(catalog._OVERFLOW_TAIL) | gated
    orphans = [n for n in catalog.SPARK_QUERIES if n not in accounted]
    assert not orphans, (
        f"registry entries with no external row, no window slot and no "
        f"tail rationale: {orphans}"
    )


def test_phase_builders_name_registered_queries():
    """Every bench phase builder must back a registered gate (a typo'd
    name would silently lose its phase split), and phased entries keep
    their value-hash oracles — the probe-only timing semantics only
    make sense for gated queries."""
    from cargo_chat_spark.queries.registry import PHASE_BUILDERS

    unknown = [n for n in PHASE_BUILDERS if n not in catalog.SPARK_QUERIES]
    assert not unknown, f"phase builders for unregistered queries: {unknown}"
    no_oracle = [n for n in PHASE_BUILDERS if n not in catalog.ORACLE_SQL]
    assert not no_oracle, f"phased entries without oracles: {no_oracle}"
    assert all(callable(f) for f in PHASE_BUILDERS.values())


def test_legacy_bench_rows_name_registered_queries():
    """Every timed or barred row of the legacy bench must name a live
    registry entry; a retired query left in a bench list would otherwise
    only fail with a KeyError when bench.py runs."""
    import bench

    for list_name in ("HEADLINE", "DETAIL_EXTRA", "BASELINE_S"):
        unknown = [
            n for n in getattr(bench, list_name) if n not in catalog.SPARK_QUERIES
        ]
        assert not unknown, f"bench.{list_name} names unregistered queries: {unknown}"


def _comment_blocks(source: str) -> list[str]:
    """The text of each run of consecutive ``#`` comment lines, and of
    each trailing comment, joined into one line per run."""
    blocks, run = [], []
    for line in source.splitlines():
        code, hash_, text = line.partition("#")
        if hash_ and not code.strip():
            run.append(text.strip())
            continue
        if run:
            blocks.append(" ".join(run))
            run = []
        if hash_:
            blocks.append(text.strip())
    if run:
        blocks.append(" ".join(run))
    return blocks


def test_tail_reasons_cite_window_entries():
    """A reason that says an entry is re-proven "in-window by X" is only
    true while X holds a GATE_WINDOW slot; anything else must cite what
    actually covers it (X's CORRECTNESS_r* row, or a test)."""
    window = set(catalog.GATE_WINDOW)
    cited = []
    for block in _comment_blocks(inspect.getsource(catalog)):
        for m in re.finditer(r"in-window by (.*)", block):
            # the claim runs to the end of its clause
            clause = re.split(r"[;:()]| — |\.(?:\s|$)", m.group(1))[0]
            cited += re.findall(r"[a-z0-9]+(?:_[a-z0-9]+)+", clause)
    assert cited, "no in-window citations parsed"
    outside = sorted({n for n in cited if n not in window})
    assert not outside, f"tail reasons cite non-window entries as in-window: {outside}"
