"""Model-based randomized verification of the DSIR bucket-model CDC
fold (queries/dataselect.py::dsir_cdc_model's algebra): for random
snapshot lifecycles — append waves, MERGE re-texts, CoW deletes,
merge-on-read (DV) deletes — the base model at v0 plus ONE signed-delta
fold over snap_file_deltas(v0 → vN) must equal a from-scratch model
over the final corpus, for every prefix of the op sequence. This is the
associativity/DV-visibility guard the snapshots model tests give the
snapshot log, applied to the (b, sc, tc) feature-count pair."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cargo_chat_spark.queries.dataselect import _bucket_counts
from cargo_chat_spark.sources import snapshots as S
from tests.conftest import SF_DIR_SMALL, spark  # noqa: F401

import pytest

LANGS = ["en", "fr", "de"]
WORDS = [
    "spark", "join", "window", "filter", "scan", "merge", "delta",
    "shuffle", "broadcast", "codegen",
]


def _doc(rng, doc_id):
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 9)))
    return (doc_id, rng.choice(LANGS), text)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    )


def _folded(spark, path, to_v):
    base = _bucket_counts(S.snap_read(spark, path, 0).select("lang", "text"))
    delta = S.snap_file_deltas(spark, path, 0, to_v).select(
        "lang", "text", "sgn"
    )
    return (
        base.unionByName(_bucket_counts(delta))
        .groupBy("b")
        .agg(
            F.sum("sc").cast("bigint").alias("sc"),
            F.sum("tc").cast("bigint").alias("tc"),
        )
        .where(F.col("sc") > 0)
    )


def _rows(df):
    return sorted((r["b"], r["sc"], r["tc"]) for r in df.collect())


@pytest.mark.slow
def test_random_lifecycles_fold_to_scratch(spark, tmp_path):
    for seed in (11, 43):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        model = {d: (lang, t) for d, lang, t in
                 (_doc(rng, i) for i in range(30))}
        S.snap_write(
            _df(spark, [(d, *v) for d, v in model.items()]), path
        )
        next_id = 30
        for step in range(6):
            op = rng.choice(["append", "merge", "delete", "mor_delete"])
            if op == "append":
                rows = [_doc(rng, next_id + i) for i in range(rng.randint(1, 5))]
                next_id += len(rows)
                for d, lang, t in rows:
                    model[d] = (lang, t)
                S.snap_append(_df(spark, rows), path)
            elif op == "merge":
                ids = rng.sample(sorted(model), min(4, len(model)))
                rows = [(d, model[d][0], _doc(rng, d)[2]) for d in ids]
                for d, lang, t in rows:
                    model[d] = (lang, t)
                S.snap_merge(spark, path, _df(spark, rows), "doc_id")
            else:
                ids = rng.sample(sorted(model), min(3, len(model) - 5))
                for d in ids:
                    model.pop(d)
                keys = spark.createDataFrame(
                    [(d,) for d in ids], "doc_id bigint"
                )
                if op == "delete":
                    S.snap_delete(spark, path, keys, "doc_id")
                else:
                    S.snap_delete_rows(spark, path, keys, "doc_id")
            v = int(S.manifest(path)["version"])
            want = _rows(
                _bucket_counts(
                    _df(spark, [(d, *model[d]) for d in model]).select(
                        "lang", "text"
                    )
                )
            )
            got = _rows(_folded(spark, path, v))
            assert got == want, (
                f"seed {seed} step {step} op {op}: DSIR model fold diverged"
            )
