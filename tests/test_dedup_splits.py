"""Group-aware holdout assignment (queries/dedup.py): leakage_safe_split
and kfold_group_assign must keep every near-dup component inside one
split or fold, with the label a pure function of the group key."""

from __future__ import annotations

import hashlib

from cargo_chat_spark.queries import _draws as dr
from cargo_chat_spark.queries import dedup  # noqa: F401 (registers the entries)
from cargo_chat_spark.queries.registry import SPARK_QUERIES
from tests.conftest import SF_DIR_SMALL


def _draw(key: int) -> int:
    """Plain-Python md5 draw of a key, independent of ``_draws``' code."""
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % dr.DRAW_MOD


def test_leakage_safe_split_groups_never_straddle(spark):
    """The property the operator exists for: every near-dup component is
    entirely inside ONE split (a per-doc draw provably violates this on
    the same fixture), every member carries the label its group key
    draws against the 98/1/1 boundaries, and ratios stay near 98/1/1."""
    ls = SPARK_QUERIES["leakage_safe_split"](spark, SF_DIR_SMALL).toPandas()
    assert len(ls) == ls["doc_id"].nunique()

    per_group = ls.groupby("group_id")["split"].nunique()
    assert (per_group == 1).all()

    clusters = ls[ls["group_id"] != ls["doc_id"]]
    assert len(clusters) > 0, "fixture must contain near-dup clusters"

    # every row inherits exactly the REPRESENTATIVE's label: the split a
    # singleton with doc_id == group_id would draw
    def split_of(key: int) -> str:
        d = _draw(key)
        if d < dr.SPLIT_VAL_LO:
            return "train"
        return "val" if d < dr.SPLIT_TEST_LO else "test"

    want = ls["group_id"].map(lambda g: split_of(int(g)))
    assert (ls["split"] == want).all()

    frac = ls["split"].value_counts(normalize=True)
    assert 0.93 <= frac.get("train", 0) <= 1.0
    assert frac.get("val", 0) <= 0.05 and frac.get("test", 0) <= 0.05


def test_kfold_groups_never_straddle_and_uniform(spark):
    """k-fold sibling of the straddle property: every near-dup component
    sits entirely in ONE fold, folds cover 0..K-1, and the fold equals
    the draw of the group key mod K (so assignment is reproducible from
    the key alone — no stored placement)."""
    from cargo_chat_spark.queries.dedup import _KFOLD_K

    kf = SPARK_QUERIES["kfold_group_assign"](spark, SF_DIR_SMALL).toPandas()
    assert len(kf) == kf["doc_id"].nunique()

    per_group = kf.groupby("group_id")["fold"].nunique()
    assert (per_group == 1).all()

    clusters = kf[kf["group_id"] != kf["doc_id"]]
    assert len(clusters) > 0, "fixture must contain near-dup clusters"

    assert set(kf["fold"].unique()) <= set(range(_KFOLD_K))
    assert kf["fold"].nunique() == _KFOLD_K, "a fold came out empty"
    # uniformity is exact in distribution (DRAW_MOD % K == 0): no fold
    # should be wildly off 1/K on ~500 groups
    frac = kf["fold"].value_counts(normalize=True)
    assert frac.max() < 2.5 / _KFOLD_K and frac.min() > 0.25 / _KFOLD_K

    # reproducible-from-key: fold == md5-draw(group_id) % K
    sample = kf.sample(n=min(100, len(kf)), random_state=0)
    for _, row in sample.iterrows():
        assert row["fold"] == _draw(int(row["group_id"])) % _KFOLD_K
