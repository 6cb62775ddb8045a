"""Tier rollup: exact counts/sums, re-aggregation invariant, summary
distinct counts."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsdat_spark.rollup import reaggregate_tier, rollup_tier, tier_summary
from tsdat_spark.standardize import with_token_len, with_turn_latency
from tsdat_spark.synth import SynthSpec, generate_transcripts


@pytest.fixture(scope="module")
def turns(spark):
    df = generate_transcripts(spark, SynthSpec(n_convs=30, base_turns=50, n_mega=1, mega_turns=1500))
    df = with_token_len(df)
    df = with_turn_latency(df)
    # null tool is a legal key value; coalesce here so the test's equality
    # joins compare groups 1:1 (the engine itself groups nulls fine)
    df = df.withColumn("tool", F.coalesce(F.col("tool"), F.lit("")))
    df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def t1m(turns):
    df = rollup_tier(turns, "1m", salt=4)
    df.persist()
    df.count()
    yield df
    df.unpersist()


def test_counts_and_sums_exact(turns, t1m):
    """Tier counts/sums == plain groupBy aggregates."""
    expected = (
        turns.groupBy("conv_id", "tool", "role",
                      F.date_trunc("minute", "ts").alias("bin_start"))
        .agg(F.count("*").alias("n"),
             # tier semantics: a bin with no tokens sums to 0, not NULL
             F.coalesce(F.sum("token_len"), F.lit(0)).alias("tok"),
             F.count("latency_us").alias("nlat"))
    )
    got = t1m.select("conv_id", "tool", "role", "bin_start", "n_turns", "token_len_sum", "n_latency")
    joined = got.join(expected, ["conv_id", "tool", "role", "bin_start"], "full")
    bad = joined.where(
        (F.col("n_turns") != F.col("n"))
        | (F.coalesce(F.col("token_len_sum"), F.lit(-1)) != F.coalesce(F.col("tok"), F.lit(-1)))
        | (F.col("n_latency") != F.col("nlat"))
        | F.col("n_turns").isNull() | F.col("n").isNull()
    )
    assert bad.count() == 0


def test_percentiles_close_to_exact(turns):
    """Sketch p50/p95 land within ~1 rank of the true order statistic per
    bin (value-space tolerances are meaningless for tiny skewed bins:
    t-digest and interpolated percentiles legitimately differ by a whole
    gap there — rank error is the sketch's actual guarantee)."""
    import bisect

    t1h = rollup_tier(turns, "1h", salt=4)
    exact = (
        turns.where(F.col("latency_us").isNotNull())
        .groupBy("conv_id", "tool", "role", F.date_trunc("hour", "ts").alias("bin_start"))
        .agg(F.sort_array(F.collect_list("latency_us")).alias("vals"))
        .where(F.size("vals") >= 5)
    )
    j = t1h.join(exact, ["conv_id", "tool", "role", "bin_start"]).select(
        "latency_p50", "latency_p95", "vals"
    ).collect()
    assert len(j) > 0
    for r in j:
        vals = r["vals"]
        n = len(vals)
        for q, got in ((0.5, r["latency_p50"]), (0.95, r["latency_p95"])):
            # the sketch value occupies the rank interval [lo, hi) of its
            # duplicates; target rank must fall near that interval
            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = q * (n - 1)
            tol = 2.0 + 0.05 * n
            assert lo - tol <= target <= hi + tol, (q, got, lo, hi, target, vals)


def test_reaggregation_equals_direct(turns, t1m):
    """1m → 1h re-aggregation: counts/sums EXACTLY equal the direct 1h
    rollup of raw turns; sketch percentiles agree within tolerance."""
    from_1m = reaggregate_tier(t1m, "1h")
    direct = rollup_tier(turns, "1h", salt=4)
    keys = ["conv_id", "tool", "role", "bin_start"]
    a = from_1m.select(*keys, "n_turns", "token_len_sum", "n_latency", "latency_p95")
    b = direct.select(*keys,
                      F.col("n_turns").alias("dn"), F.col("token_len_sum").alias("dtok"),
                      F.col("n_latency").alias("dnlat"), F.col("latency_p95").alias("dp95"))
    j = a.join(b, keys, "full").collect()
    assert len(j) > 0
    for r in j:
        assert r["n_turns"] == r["dn"], r
        assert r["token_len_sum"] == r["dtok"], r
        assert r["n_latency"] == r["dnlat"], r
        if r["dnlat"] and r["dnlat"] > 1:
            assert r["latency_p95"] == pytest.approx(r["dp95"], rel=0.05, abs=1e6), r


def test_salt_invariance(turns):
    """Different salt fan-outs must not change counts/sums (exact) at all."""
    a = rollup_tier(turns, "1h", salt=1).select("conv_id", "tool", "role", "bin_start", "n_turns", "token_len_sum")
    b = rollup_tier(turns, "1h", salt=16).select("conv_id", "tool", "role", "bin_start", "n_turns", "token_len_sum")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_tier_summary_distinct_convs(turns, t1m):
    summary = tier_summary(t1m, by=["role"])
    expected = (
        turns.groupBy("role", F.date_trunc("minute", "ts").alias("bin_start"))
        .agg(F.countDistinct("conv_id").alias("e_distinct"), F.count("*").alias("e_turns"))
    )
    j = summary.join(expected, ["role", "bin_start"], "full")
    bad = j.where(
        (F.col("n_distinct_convs") != F.col("e_distinct")) | (F.col("n_turns") != F.col("e_turns"))
        | F.col("n_distinct_convs").isNull() | F.col("e_distinct").isNull()
    )
    assert bad.count() == 0
