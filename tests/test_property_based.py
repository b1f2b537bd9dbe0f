"""Hypothesis property tests for the pure driver-side kernels — the parts
of the engine that run OUTSIDE Spark (gitignore matching, the portable
hash family) and therefore get no oracle coverage. No SparkSession here;
hundreds of generated examples run in milliseconds."""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from cargo_chat_spark.functions.hashing import PRIME, h32_py
from cargo_chat_spark.sources.repo import _glob_to_re, _ignored, _Rule

# --------------------------------------------------------------- gitignore

_seg = st.text(alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=6)
_relpath = st.lists(_seg, min_size=1, max_size=4).map("/".join)


@given(_relpath)
def test_star_never_crosses_slash(rel):
    # a bare '*' rule matches any single top-level component (and anything
    # inside the matched dir), never a deeper FILE path directly
    rx = re.compile("^" + _glob_to_re("*") + "$")
    assert bool(rx.match(rel)) == ("/" not in rel)


@given(_relpath)
def test_doublestar_matches_everything(rel):
    rx = re.compile("^" + _glob_to_re("**") + "$")
    assert rx.match(rel)


@given(_seg, _relpath)
def test_negation_last_match_wins(name, rel):
    # "<name>" then "!<name>": the later negation must re-include it
    rules = [_Rule(name, ""), _Rule(f"!{name}", "")]
    assert _ignored(name, rules, is_dir=False) is False
    # and in reverse order the ignore wins
    rules_rev = [_Rule(f"!{name}", ""), _Rule(name, "")]
    assert _ignored(name, rules_rev, is_dir=False) is True


@given(_seg)
def test_dir_only_rule_skips_files(name):
    rules = [_Rule(f"{name}/", "")]
    assert _ignored(name, rules, is_dir=True) is True
    assert _ignored(name, rules, is_dir=False) is False
    # but files INSIDE the ignored dir are ignored
    assert _ignored(f"{name}/inner", rules, is_dir=False) is True


@given(_seg, _seg)
def test_unanchored_matches_any_depth_anchored_only_root(a, b):
    un = [_Rule(b, "")]
    assert _ignored(f"{a}/{b}", un, is_dir=False) is True
    anchored = [_Rule(f"/{b}", "")]
    if a != b:  # a == b: the anchored rule matches dir 'a' and its contents
        assert _ignored(f"{a}/{b}", anchored, is_dir=False) is False
    assert _ignored(b, anchored, is_dir=False) is True


@given(_seg, _seg)
def test_nested_gitignore_overrides_parent(base, name):
    # parent ignores <name>, nested <base>/.gitignore re-includes it
    rules = [_Rule(name, ""), _Rule(f"!{name}", base)]
    assert _ignored(f"{base}/{name}", rules, is_dir=False) is False
    # a sibling outside the nested base stays ignored
    assert _ignored(name, rules, is_dir=False) is True


# ------------------------------------------------------------ hash family


@given(st.text(max_size=64))
@settings(max_examples=200)
def test_h32_range_and_determinism(s):
    h = h32_py(s)
    assert 0 <= h < 2**32
    assert h == h32_py(s)


@given(st.text(max_size=32), st.text(max_size=32))
def test_h32_distinct_inputs_rarely_collide(a, b):
    # not a collision-freeness proof — just pins that the slice is not
    # degenerate (e.g. constant) for differing inputs
    if a != b:
        # allow real collisions; they must not be the RULE
        if h32_py(a) == h32_py(b):
            assert h32_py(a + "x") != h32_py(b + "y") or a + "x" == b + "y"


@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_universal_perm_stays_in_field(h):
    from cargo_chat_spark.operators.dedup import _PERMS

    for a, b in _PERMS:
        v = (h % PRIME * a + b) % PRIME
        assert 0 <= v < PRIME


# ------------------------------------------------------- mock rules (r9)
@given(st.text(max_size=120))
def test_classifier_invariants(q):
    from cargo_chat_spark.models.mock import MockProvider

    c = MockProvider().classify_query(q)
    assert c.intent in {
        "how_it_works", "implementation", "debugging", "explanation",
    }
    assert c.language in {
        None, "rust", "python", "javascript", "typescript", "go", "java",
    }
    assert c.wants_code == (
        c.intent in ("implementation", "debugging", "how_it_works")
    )
    assert c.confidence in (0.6, 0.75, 0.9)
    if c.language is not None:
        assert c.confidence == 0.9


@given(st.text(max_size=200), st.integers(min_value=1, max_value=64))
def test_hyde_budget_always_respected(q, budget):
    from cargo_chat_spark.models.mock import MockProvider

    p = MockProvider()
    c = p.classify_query(q)
    doc = p.hyde_document(q, c.intent, max_chars=budget)
    assert len(doc) <= budget
    assert doc == f"[{c.intent}] {q}"[:budget]
