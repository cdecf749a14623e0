"""Operator-level guarantees of the deterministic sketch family."""

from __future__ import annotations

from pyspark.sql import functions as F

from es_ch_sync_spark.io.sources import read_parquet_table
from es_ch_sync_spark.operators.sketches import (
    cms_build,
    cms_point_estimates,
    kmv_estimate,
    kmv_set_ops,
    kmv_sketch,
)


def _events(spark, sf_dir):
    return read_parquet_table(spark, sf_dir, "events")


def test_kmv_exact_below_k(spark, sf_dir):
    """Groups with fewer than k distinct keys get the EXACT count."""
    ev = _events(spark, sf_dir)
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=1024)
    est = kmv_estimate(sk, ["event_type"], k=1024)
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    )
    got = {r["event_type"]: r["est_distinct"] for r in est.collect()}
    for r in exact:
        assert got[r["event_type"]] == float(r["x"])


def test_kmv_prefilter_tier_bit_identical(spark, sf_dir):
    """The adaptive pre-filter tier must return exactly the same bottom-k
    sketch as the plain path (it only discards hashes provably outside
    the bottom-k, with survivor verification)."""
    ev = _events(spark, sf_dir)
    plain = kmv_sketch(ev, "event_id", ["event_type"], k=32)
    fast = kmv_sketch(ev, "event_id", ["event_type"], k=32, prefilter_slack=4)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b


def test_kmv_prefilter_starved_fallback(spark, sf_dir):
    """Even with an absurdly tight slack the verification pass must repair
    any starved group — output stays bit-identical."""
    ev = _events(spark, sf_dir)
    plain = kmv_sketch(ev, "event_id", ["event_type"], k=64)
    # slack=1 keeps ~k expected survivors: underflow is likely, forcing the
    # re-admit path for at least some groups.
    tight = kmv_sketch(ev, "event_id", ["event_type"], k=64, prefilter_slack=1)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, tight.collect()))


def test_kmv_estimate_reasonable(spark, sf_dir):
    """Filled sketches estimate within the KMV error envelope (~1/sqrt(k))
    on the event_id domain (high cardinality)."""
    ev = _events(spark, sf_dir)
    k = 64
    sk = kmv_sketch(ev, "event_id", [], k=k)
    est = kmv_estimate(sk.withColumn("_g", F.lit(1)), ["_g"], k=k).collect()[0]
    exact = ev.select("event_id").distinct().count()
    if est["n_kept"] == k:
        assert abs(est["est_distinct"] - exact) / exact < 0.5  # 4σ at k=64
    else:
        assert est["est_distinct"] == float(exact)


def test_kmv_set_ops_invariants(spark, sf_dir):
    """Union ≥ max side, intersection ≤ min side, jaccard in [0, 1]."""
    ev = _events(spark, sf_dir)
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=64)
    for r in kmv_set_ops(sk, "event_type", k=64).collect():
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-6
        assert r["est_intersect"] <= min(r["est_a"], r["est_b"]) + 1e-6
        assert 0.0 <= r["est_jaccard"] <= 1.0


def test_cms_never_underestimates(spark, sf_dir):
    """CMS point estimates are ≥ exact counts for EVERY key (the one-sided
    error guarantee), and equal when the grid is wide enough to avoid
    collisions."""
    ev = _events(spark, sf_dir)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("x"))
    sketch = cms_build(ev, "user_id", depth=4, width=64)
    est = cms_point_estimates(sketch, exact, "user_id", depth=4, width=64)
    joined = exact.join(est, exact["user_id"] == est["key"]).collect()
    assert joined
    for r in joined:
        assert r["cms_est"] >= r["x"]
    # Huge width ⇒ no collisions ⇒ exact.
    wide = cms_build(ev, "user_id", depth=2, width=1 << 20)
    est_w = cms_point_estimates(wide, exact, "user_id", depth=2, width=1 << 20)
    for r in exact.join(est_w, exact["user_id"] == est_w["key"]).collect():
        assert r["cms_est"] == r["x"]


def test_cms_grid_bounded(spark, sf_dir):
    """The sketch itself never exceeds d·w cells regardless of input size —
    the fixed-memory property."""
    ev = _events(spark, sf_dir)
    assert cms_build(ev, "event_id", depth=4, width=32).count() <= 4 * 32


def test_kmv_mergeable_across_days(spark, sf_dir):
    """Mergeability: per-day bottom-k sketches, merged (union of hash sets,
    re-truncate) equal the single-pass corpus sketch BIT-FOR-BIT — the
    property that lets 100 TB be sketched per-partition and combined."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from es_ch_sync_spark.io.sources import read_parquet_table

    ev = read_parquet_table(spark, sf_dir, "events")
    k = 32
    single = kmv_sketch(ev, "user_id", [], k=k)
    daily = kmv_sketch(
        ev.withColumn("day", F.to_date("ts")), "user_id", ["day"], k=k
    )
    merged = (
        daily.select("h").distinct()
        .withColumn("rank", F.row_number().over(Window.orderBy("h")))
        .where(F.col("rank") <= k)
        .drop("rank")
    )
    assert sorted(r["h"] for r in single.collect()) == sorted(
        r["h"] for r in merged.collect()
    )


def test_histogram_quantile_within_bin_width(spark, sf_dir):
    """Histogram quantile estimates land within one bin width of the exact
    interpolated percentile (the sketch's error bound)."""
    from es_ch_sync_spark.operators.sketches import histogram_quantile_estimates

    ev = _events(spark, sf_dir)
    bins = 64
    row = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx")).collect()[0]
    width = (row["mx"] - row["mn"]) / bins
    est = {
        (r["event_type"], r["q"]): r["est_q"]
        for r in histogram_quantile_estimates(
            ev, "value", ["event_type"], [0.5, 0.95], bins=bins
        ).collect()
    }
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.95)").alias("e95"),
    )
    for r in exact.collect():
        assert abs(est[(r["event_type"], 0.5)] - r["e50"]) <= width
        assert abs(est[(r["event_type"], 0.95)] - r["e95"]) <= width


def test_histogram_grid_mergeable(spark, sf_dir):
    """Grids built on disjoint halves AGAINST THE SAME EDGES sum cell-wise
    to the full grid — the mergeability contract (edges pinned via the
    ``edges`` parameter, exactly how per-day batches share a layout)."""
    from es_ch_sync_spark.operators.sketches import histogram_bins

    ev = _events(spark, sf_dir).cache()
    full, mn, mx = histogram_bins(ev, "value", ["event_type"], bins=32)
    lo = ev.where(F.col("event_id") % 2 == 0)
    hi = ev.where(F.col("event_id") % 2 == 1)
    g_lo, _, _ = histogram_bins(lo, "value", ["event_type"], bins=32, edges=(mn, mx))
    g_hi, _, _ = histogram_bins(hi, "value", ["event_type"], bins=32, edges=(mn, mx))
    merged = (
        g_lo.unionByName(g_hi)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    f = {(r["event_type"], r["bin"]): r["cnt"] for r in full.collect()}
    m = {(r["event_type"], r["bin"]): r["cnt"] for r in merged.collect()}
    assert f == m


def test_mg_candidates_superset_of_heavy_hitters(spark):
    """Misra-Gries one-sided guarantee on an adversarial layout: every key
    with freq > N/(k+1) appears in the candidate union, for a stream
    whose heavy keys are front-loaded into one partition and whose cold
    tail floods the summary with unique keys."""
    from es_ch_sync_spark.operators.sketches import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    rows = (
        [("hh_a",)] * 900
        + [("hh_b",)] * 400
        + [(f"cold_{i}",) for i in range(4000)]
        + [("hh_a",)] * 600
    )
    df = spark.createDataFrame(rows, "key string").repartition(7)
    k = 16
    n = len(rows)
    exact = {
        r["key"]
        for r in df.groupBy("key").count().where(F.col("count") * (k + 1) > n).collect()
    }
    assert "hh_a" in exact  # 1500 > 5900/17
    cands = {r["key"] for r in misra_gries_candidates(df, "key", k).collect()}
    assert exact <= cands
    got = heavy_hitters_exact(df, "key", k)
    assert {r["key"] for r in got.collect()} == exact
    # exact counts, not residuals
    freqs = {r["key"]: r["freq"] for r in got.collect()}
    assert freqs.get("hh_a") == 1500
    # null keys are never a candidate and leave the candidate set unchanged
    # (union keeps df's partitions as they are and adds the null rows)
    nulls = spark.createDataFrame([(None,)] * 700, "key string")
    null_cands = [
        r["key"] for r in misra_gries_candidates(df.union(nulls), "key", k).collect()
    ]
    assert None not in null_cands
    assert set(null_cands) == cands


def test_mg_summary_bounded_per_partition(spark):
    """The candidate pass emits at most k rows per partition."""
    from es_ch_sync_spark.operators.sketches import misra_gries_candidates

    df = spark.createDataFrame(
        [(f"k{i % 997}",) for i in range(20000)], "key string"
    ).repartition(5)
    out = misra_gries_candidates(df, "key", k=32)
    assert out.count() <= 32 * 5
