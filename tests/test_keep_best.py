"""keep_best (operators/ranking.py) against the reference it replaces: a
``row_number() = 1`` window over the same order, NULLS LAST, with NaN
keys counted as NULL — under ANSI on and off, on seeded data dense in
ties, NULLs, NaNs and the integral extremes."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.ranking import keep_best

LMIN, LMAX = -(2**63), 2**63 - 1
IMIN, IMAX = -(2**31), 2**31 - 1

# (order, unique_tail): with a unique last key the winner is one row and
# its id is compared; without one only the winner's key values are, since
# rows tying on every key are interchangeable for the reference.
ORDERS = [
    ([("d", "desc"), ("l", "asc"), ("id", "asc")], True),
    ([("d", "asc"), ("l", "desc"), ("id", "desc")], True),
    ([("l", "asc"), ("d", "desc"), ("id", "asc")], True),
    ([("l", "desc"), ("i", "asc"), ("id", "desc")], True),
    ([("i", "asc"), ("l", "desc"), ("d", "asc"), ("id", "asc")], True),
    ([("d", "desc"), ("l", "asc")], False),
    ([("i", "asc"), ("d", "desc")], False),
    ([("l", "asc")], False),
]


def _rows(seed: int, groups: int = 150):
    rng = random.Random(seed)
    ds = [None, math.nan, -math.inf, -1.5, 0.0, 2.0, math.inf]
    ls = [None, LMIN, LMIN + 1, -1, 0, 1, LMAX - 1, LMAX]
    is_ = [None, IMIN, -7, 0, 7, IMAX]
    rows, rid = [], 0
    for g in range(groups):
        for _ in range(rng.randint(1, 7)):
            rid += 1
            # pay runs against id, so a payload-decided tie would flip it
            rows.append((g, rng.choice(ds), rng.choice(ls), rng.choice(is_),
                         rid, -rid))
    return rows


def _nan_as_null(c):
    return F.when(~F.isnan(c), c)


def _norm(v):
    return None if isinstance(v, float) and math.isnan(v) else v


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        _rows(20260417), "g int, d double, l bigint, i int, id bigint, pay bigint"
    ).persist()


@pytest.mark.parametrize("ansi", [True, False], ids=["ansi_on", "ansi_off"])
def test_keep_best_matches_row_number_window(spark, frame, ansi):
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        for order, unique_tail in ORDERS:
            keys = [k for k, _ in order]
            out = list(dict.fromkeys([*keys, "id", "pay"]))
            sort = [
                _nan_as_null(F.col(k)).desc_nulls_last() if d == "desc"
                else _nan_as_null(F.col(k)).asc_nulls_last()
                for k, d in order
            ]
            w = Window.partitionBy("g").orderBy(*sort)
            ref = (
                frame.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .select("g", *keys, "id")
                .collect()
            )
            got = (
                frame.groupBy("g")
                .agg(keep_best(order, out).alias("b"))
                .select("g", *[F.col(f"b.{c}") for c in out])
                .collect()
            )
            if unique_tail:
                want = {r["g"]: r["id"] for r in ref}
                assert {r["g"]: r["id"] for r in got} == want, order
                # payload fields come back with their original values
                assert all(r["pay"] == -r["id"] for r in got)
            else:
                want = {r["g"]: tuple(_norm(r[k]) for k in keys) for r in ref}
                have = {r["g"]: tuple(_norm(r[k]) for k in keys) for r in got}
                assert have == want, order
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_keep_best_null_and_nan_never_win(spark):
    df = spark.createDataFrame(
        [(1, None, 1), (1, math.nan, 2), (1, -math.inf, 3),
         (2, None, 4), (2, math.nan, 5)],
        "g int, v double, id bigint",
    )
    for direction in ("desc", "asc"):
        out = dict(
            df.groupBy("g")
            .agg(keep_best([("v", direction)], ["id"]).getField("id").alias("id"))
            .collect()
        )
        assert out[1] == 3, direction  # the one real key wins either way
        assert out[2] in (4, 5), direction  # all keys missing: any row


def test_keep_best_rejects_unknown_direction():
    for order in ([("v", "descending")], []):
        with pytest.raises(ValueError, match="asc"):
            keep_best(order, ["id"])
