"""spread() contract enforcement + persisted-intermediate ownership."""

from __future__ import annotations

from pyspark.sql import functions as F

from es_ch_sync_spark.operators.util import (
    _is_scan_stage,
    release_intermediates,
    spread,
)


def test_spread_widens_scan_frame(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = spread(df, min_partitions=8)
    assert out.rdd.getNumPartitions() >= 8


def test_spread_is_noop_on_non_scan_frame(spark, sf_dir):
    """A frame containing a join/aggregate must be returned UNCHANGED with
    no df.rdd probe — probing would execute the broadcast subtree at
    plan-build time (the round-3 verdict's silent-execution hazard)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = docs.join(docs.select("doc_id"), "doc_id")
    agged = docs.groupBy("source").count()
    assert spread(joined) is joined
    assert spread(agged) is agged
    assert spread(docs.select("doc_id").distinct()) is not None  # no crash


def test_is_scan_stage_classifier(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _is_scan_stage(docs)
    assert _is_scan_stage(docs.filter(F.col("doc_id") > 5).select("doc_id"))
    assert _is_scan_stage(
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    )
    assert not _is_scan_stage(docs.join(docs.select("doc_id"), "doc_id"))
    assert not _is_scan_stage(docs.groupBy("source").count())
    assert not _is_scan_stage(docs.select("doc_id").distinct())
    assert not _is_scan_stage(docs.repartition(4))


def test_quality_budget_select_releases_intermediates(spark, sf_dir):
    """Stratum tier persists a scoring pass; after materialization the
    caller reclaims it via release_intermediates (exactly one frame)."""
    from es_ch_sync_spark.operators.sampling import quality_budget_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # force the stratum tier via the row-count hint (also proves the hint
    # replaces the df.count() scan for tier selection)
    out = quality_budget_select(docs, budget_tokens=5_000, n_rows=10**9)
    out.count()
    assert release_intermediates(out) == 1
    assert release_intermediates(out) == 0  # second call is a no-op
    # small tier persists nothing
    small = quality_budget_select(docs, budget_tokens=5_000, n_rows=1)
    small.count()
    assert release_intermediates(small) == 0


def test_budget_select_tiers_agree_via_hint(spark, sf_dir):
    """The n_rows hint must not change results: both tiers bit-identical."""
    from es_ch_sync_spark.operators.sampling import quality_budget_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    small = quality_budget_select(docs, budget_tokens=20_000, n_rows=1)
    big = quality_budget_select(docs, budget_tokens=20_000, n_rows=10**9)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    release_intermediates(big)


def test_pagerank_releases_intermediates(spark):
    from es_ch_sync_spark.operators.dedup import pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["id_a", "id_b"]
    )
    pr = pagerank(pairs, iterations=2)
    pr.count()
    assert release_intermediates(pr) == 2  # edges + degree table


def test_assign_shards_releases_intermediates(spark, sf_dir):
    from es_ch_sync_spark.operators.sampling import assign_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = assign_shards(docs, shard_tokens=10_000)
    out.count()
    assert release_intermediates(out) == 1


def test_two_phase_rank_matches_global_order(spark):
    """Partition-offset rank equals a global row_number, including
    descending + tie-break multi-column orders; empty frame yields no
    rows."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.util import two_phase_rank

    rows = [(f"w{i}", (i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "w string, cnt long")
    out = two_phase_rank(df, F.col("cnt").desc(), "w", partitions=7).collect()
    expect = sorted(rows, key=lambda r: (-r[1], r[0]))
    got = sorted(((r["w"], r["cnt"]), r["_rk"]) for r in out)
    assert dict(got) == {(w, c): i + 1 for i, (w, c) in enumerate(expect)}
    empty = spark.createDataFrame([], "w string, cnt long")
    assert two_phase_rank(empty, "w").count() == 0


def test_two_phase_rank_rejects_duplicate_order_keys(spark):
    """The distinctness contract is enforced (r11 verdict #3): a duplicated
    order tuple raises instead of silently producing boundary-dependent
    ranks; adding a unique tie-break column makes the same data pass."""
    import pytest
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.util import two_phase_rank

    rows = [(f"w{i}", i % 5) for i in range(50)]  # cnt repeats 10× each
    df = spark.createDataFrame(rows, "w string, cnt long")
    with pytest.raises(ValueError, match="not distinct"):
        two_phase_rank(df, F.col("cnt").desc(), partitions=7)
    # same frame with the unique tie-break appended is fine
    assert two_phase_rank(df, F.col("cnt").desc(), "w", partitions=7).count() == 50


def test_metadata_fast_paths_match_spark(spark, tmp_path):
    """r16 optimization pins: bare_scan_files/scan_row_count/
    gather_columns answer from parquet footers ONLY for bare file scans
    and agree exactly with count()/toArrow(); any non-scan frame falls
    back to the distributed path."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.util import (
        bare_scan_files,
        gather_columns,
        scan_row_count,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.parquet(p)
    df = spark.read.parquet(p)
    files = bare_scan_files(df)
    assert files and all(f.endswith(".parquet") for f in files)
    assert scan_row_count(df) == 100 == df.count()
    g = gather_columns(df, ["id", "v"]).sort_by("id")
    t = df.select("id", "v").toArrow().sort_by("id")
    # same columns, types and values (the footer schema keeps the writer's
    # non-null flags, Spark's read schema is all-nullable)
    assert g.schema.types == t.schema.types
    assert g.column_names == t.column_names and g.to_pydict() == t.to_pydict()
    # filtered/derived frames are NOT bare scans: must fall back
    flt = df.filter(F.col("id") < 10)
    assert bare_scan_files(flt) is None
    assert scan_row_count(flt) == 10
    agg = df.groupBy().count()
    assert bare_scan_files(agg) is None
    # above the file cap the footer walk is skipped (still correct)
    assert scan_row_count(df, max_files=0) == 100
