"""Pinned outputs of the grouped quantile and Misra-Gries partial paths.

The oracle queries for these sketches compare constant-TRUE bound rows,
so a changed estimate that stays inside its bound is invisible to them.
These tests pin the exact rows and estimates instead: the expected
values were recorded from the implementation before the grouped KLL and
t-digest paths were folded into one pipeline, and the Misra-Gries
partials before its per-batch fold was shared with the windowed heavy
hitters. Row tables are compared by count and by a digest of their rows'
``repr`` in sorted order (floats compare bit for bit).

The input is seeded (``rand(17)``) over a fixed ``spark.range``
partitioning, has three groups plus a NULL group key, small Arrow
batches (several per partition) and more partitions than the patched
``_FAN``, so the fan pre-merge runs.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from qfspark import sketches

QS = [0.1, 0.5, 0.9]
K = 8
COMP = 10


@pytest.fixture
def pinned_input(spark, monkeypatch):
    monkeypatch.setattr(sketches, "_FAN", 2)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        yield spark.range(0, 1200, 1, numPartitions=6).select(
            F.when(F.col("id") % 4 == 3, F.lit(None))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 4)
                                .cast("string"))).alias("g"),
            F.floor(F.rand(17) * 40).cast("long").alias("item"),
            (F.rand(17) * 100).alias("v"))
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _table(df):
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _estimates(df):
    return {(r.g, r.q): r.est for r in df.collect()}


def _sketch_quantiles(sketch_dict):
    return {g: [sk.quantile(q) for q in QS] for (g,), sk in
            sketch_dict.items()}


def observe_quantiles(df):
    """Everything the grouped KLL / t-digest paths emit on ``df``."""
    kp = sketches.kll_partials_by(df, "v", ["g"], K)
    tp = sketches.tdigest_partials_by(df, "v", ["g"], COMP)
    return {
        "kll_partials": _table(kp),
        "kll_compact": _table(sketches.kll_compact_partials_by(
            kp, ["g"], K)),
        "kll_quantiles": _estimates(sketches.kll_quantiles_by(
            df, "v", ["g"], QS, K)),
        "kll_build": _sketch_quantiles(sketches.kll_build_by(
            df, "v", ["g"], K)),
        "tdigest_partials": _table(tp),
        "tdigest_compact": _table(sketches.tdigest_compact_partials_by(
            tp, ["g"], COMP)),
        "tdigest_quantiles": _estimates(sketches.tdigest_quantiles_by(
            df, "v", ["g"], QS, COMP)),
        "tdigest_build": _sketch_quantiles(sketches.tdigest_build_by(
            df, "v", ["g"], COMP)),
    }


def observe_mg(df):
    """Grouped and global Misra-Gries partial rows, counted and
    weighted, on ``df``."""
    w = df.withColumn("w", F.col("item") % 5)
    return {
        "mg_by": _table(sketches.mg_partials_by(df, "item", ["g"], 6)),
        "mg_by_weighted": _table(sketches.mg_partials_by(
            w, "item", ["g"], 6, weight_col="w")),
        "mg": _table(sketches.mg_partials(df, "item", 6)),
    }


EXPECTED_QUANTILES = {
    "kll_partials": (180, "4ab4708f6b8aa843"),
    "kll_compact": (18, "b6b07ea2758c3452"),
    "kll_quantiles": {
        ("g0", 0.1): 0.11751411828494485,
        ("g0", 0.5): 38.53669314397487,
        ("g0", 0.9): 90.03005276613911,
        ("g1", 0.1): 1.0665762064262396,
        ("g1", 0.5): 41.51483192234442,
        ("g1", 0.9): 91.73638392880608,
        ("g2", 0.1): 1.0283334927955745,
        ("g2", 0.5): 49.933091549853984,
        ("g2", 0.9): 97.04465843208878,
    },
    "kll_build": {
        "g0": [0.11751411828494485, 38.53669314397487, 90.03005276613911],
        "g1": [1.0665762064262396, 41.51483192234442, 91.73638392880608],
        "g2": [1.0283334927955745, 49.933091549853984, 97.04465843208878],
    },
    "tdigest_partials": (108, "ba058e51dd3c30b8"),
    "tdigest_compact": (18, "5f75a433420a7e94"),
    "tdigest_quantiles": {
        ("g0", 0.1): 20.893760859891394,
        ("g0", 0.5): 44.432259203976066,
        ("g0", 0.9): 91.89410808259223,
        ("g1", 0.1): 19.515183627339706,
        ("g1", 0.5): 40.833649179657925,
        ("g1", 0.9): 89.75814921126941,
        ("g2", 0.1): 23.378716548830344,
        ("g2", 0.5): 48.07761324423252,
        ("g2", 0.9): 93.29005151765534,
    },
    "tdigest_build": {
        "g0": [20.893760859891394, 44.432259203976066, 91.89410808259223],
        "g1": [19.515183627339706, 40.833649179657925, 89.75814921126941],
        "g2": [23.378716548830344, 48.07761324423252, 93.29005151765534],
    },
}
EXPECTED_MG = {
    "mg_by": (51, "3439e459eba439b6"),
    "mg_by_weighted": (108, "9ca48ace73fd9665"),
    "mg": (20, "ecc60f2e20243e22"),
}


def test_grouped_quantiles_pinned(pinned_input):
    assert observe_quantiles(pinned_input) == EXPECTED_QUANTILES


def test_mg_partials_pinned(pinned_input):
    assert observe_mg(pinned_input) == EXPECTED_MG
