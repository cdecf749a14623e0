"""Deterministic, mergeable sketch operators: KMV distinct-count, KMV set
operations, and Count-Min frequency sketches.

The reference engine's analytics role (distinct device counts, hot-key
frequency — cf. ``/root/reference/internal/service/clickhouse/clickhouse.go``
uniq/count surfaces) needs cardinality and frequency answers that stay cheap
at 100 TB.  Spark's built-in ``approx_count_distinct`` (HyperLogLog++) covers
the simple case but its register layout is not reproducible in an external
oracle, so these operators implement the *deterministic* sketch family
instead:

- **KMV (k-minimum-values)** [Bar-Yossef et al. 2002; Beyer et al. 2007]:
  keep the k smallest 56-bit hashes of the key; the kth minimum estimates
  cardinality as ``(k-1) / (h_k / 2^56)``.  Exact for groups with < k
  distinct keys, mergeable by "union then re-truncate", and — because the
  hash is md5-derived — bit-identical between Spark and DuckDB.
- **KMV set algebra**: union sketches merge losslessly; intersections come
  from inclusion–exclusion on the union estimate, giving distinct-union /
  distinct-intersection / Jaccard between any two groups without re-scanning
  the fact table.
- **Count-Min** [Cormode & Muthukrishnan 2005]: a d×w counter grid; every
  key increments one bucket per hash row (independent md5 per row), point
  estimate = min over rows.  Always an over-estimate, fixed memory,
  map-side combinable.

Scale design (100 TB):
- The KMV build first reduces the fact table to DISTINCT (group, hash)
  pairs — a shuffle on the *composite* key, so hot groups don't funnel to
  one reducer.  The bottom-k step is a per-group window; for low-group-count
  / high-cardinality shapes the adaptive pre-filter tier uses a per-group
  HLL estimate to discard hashes that cannot be in the bottom-k (threshold
  ``slack·k/ND_g`` of the hash space), then *verifies* survivor counts and
  falls back to the unfiltered path for any group the filter starved — the
  result is bit-identical to the exact bottom-k by construction.
- The CMS build pre-aggregates exact per-key counts FIRST (partial-agg
  shrinks 100 TB of rows to |keys| rows), then fans each key out d times
  into the (row, bucket) grid — the sketch shuffle moves d·|keys| tiny
  rows, never the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_ch_sync_spark.operators.util import map_arrow

# 56-bit hash space: first 14 hex chars of md5. Matches the family used by
# operators.dedup / operators.sampling so oracles share one hex-parse helper.
HASH_BITS = 56
HASH_SPACE = float(1 << HASH_BITS)


def hash56(*cols: Column | str, seed: str = "kmv") -> Column:
    """Deterministic uniform 56-bit hash of ':'-joined column values
    (md5-derived, oracle-reproducible). Seeded so independent sketch rows
    decorrelate; multi-column form gives per-row-independent CMS hashes."""
    parts: list[Column] = [F.lit(seed)]
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        parts.extend([F.lit(":"), col.cast("string")])
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 14), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 64,
    seed: str = "kmv",
    prefilter_slack: int | None = None,
) -> DataFrame:
    """Per-group bottom-k hash sketch: one row per (group, h) with the k
    smallest distinct hashes of ``key_col``.

    ``prefilter_slack`` enables the adaptive scale tier (see module doc);
    leave None for the plain exact path (right answer when |distinct| per
    group is moderate or group count is high)."""
    hashed = (
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, hash56(key_col, seed=seed).alias("h"))
        .distinct()
    )
    if prefilter_slack is not None:
        hashed = _prefiltered_hashes(hashed, group_cols, k, prefilter_slack)
    rank = F.row_number().over(Window.partitionBy(*group_cols).orderBy("h"))
    return (
        hashed.withColumn("rank", rank).where(F.col("rank") <= k).drop("rank")
    )


def _prefiltered_hashes(
    hashed: DataFrame, group_cols: list[str], k: int, slack: int
) -> DataFrame:
    """Adaptive bottom-k pre-filter: keep only hashes that can plausibly be
    in the bottom-k (threshold from a per-group HLL cardinality estimate),
    then verify each group kept ≥ min(k, exact distinct) survivors and
    re-admit all hashes for any starved group. Exactness: the true bottom-k
    hashes of a group all lie below any threshold that keeps ≥ k
    survivors."""
    max_h = F.lit(int(HASH_SPACE - 1))
    nd = hashed.groupBy(*group_cols).agg(
        F.approx_count_distinct("h").alias("_nd"), F.count("h").alias("_n_exact")
    )
    tau = nd.withColumn(
        "_tau",
        F.least(
            max_h,
            (
                F.lit(float(slack * k))
                / F.greatest(F.col("_nd"), F.lit(1)).cast("double")
                * F.lit(HASH_SPACE)
            ).cast("long"),
        ),
    )
    cand = hashed.join(F.broadcast(tau), group_cols).where(F.col("h") <= F.col("_tau"))
    kept = cand.groupBy(*group_cols).agg(F.count("h").alias("_kept"))
    audit = (
        tau.join(kept, group_cols, "left")
        .withColumn("_kept", F.coalesce("_kept", F.lit(0)))
        .where(
            (F.col("_kept") < F.least(F.lit(k), F.col("_n_exact")))
            & (F.col("_tau") < max_h)
        )
        .select(*group_cols)
    )
    starved = audit.collect()  # O(#groups) scalars; empty unless HLL was >slack× off
    if not starved:
        return cand.select(*group_cols, "h")
    starved_df = F.broadcast(hashed.sparkSession.createDataFrame(starved, audit.schema))
    readmitted = hashed.join(starved_df, group_cols, "left_semi")
    filtered_ok = cand.select(*group_cols, "h").join(starved_df, group_cols, "left_anti")
    return filtered_ok.unionByName(readmitted)


def _estimate_expr(n_col: str, hmax_col: str, k: int) -> Column:
    """KMV estimator: exact when the sketch didn't fill, else (k-1)/fraction
    of hash space covered by the kth minimum."""
    return F.when(F.col(n_col) < k, F.col(n_col).cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col(hmax_col).cast("double") / F.lit(HASH_SPACE))
    )


def kmv_estimate(sketch: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Collapse a bottom-k sketch to per-group distinct estimates (round(4)
    for cross-engine float stability)."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count("h").alias("n_kept"), F.max("h").alias("h_max")
    )
    return agg.select(
        *group_cols, "n_kept", F.round(_estimate_expr("n_kept", "h_max", k), 4).alias("est_distinct")
    )


def kmv_set_ops(sketch: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Pairwise set algebra between per-group KMV sketches: for every group
    pair (a < b) estimate |A|, |B|, |A∪B| (merge = union of the two hash
    sets, re-truncate to bottom-k), |A∩B| by inclusion–exclusion (clamped
    ≥ 0), and Jaccard.  The merge never touches the fact table — sketches
    are sufficient statistics, which is the point of mergeability at
    100 TB (sketch size: k rows per group)."""
    sk = sketch.select(F.col(group_col).alias("g"), "h")
    groups = sk.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("ga"))
        .join(groups.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb"))
    )
    # Attach each pair's two sketches and merge: (pairs ⋈ sketch) twice,
    # both joins broadcast — every frame here is O(k·|groups|²) small.
    merged = (
        pairs.join(F.broadcast(sk), F.col("ga") == F.col("g"))
        .select("ga", "gb", "h")
        .unionByName(
            pairs.join(F.broadcast(sk), F.col("gb") == F.col("g")).select("ga", "gb", "h")
        )
        .distinct()
    )
    rank = F.row_number().over(Window.partitionBy("ga", "gb").orderBy("h"))
    union_est = (
        merged.withColumn("rank", rank)
        .where(F.col("rank") <= k)
        .groupBy("ga", "gb")
        .agg(F.count("h").alias("nu"), F.max("h").alias("hu"))
        .select("ga", "gb", _estimate_expr("nu", "hu", k).alias("est_union_raw"))
    )
    per = kmv_estimate(sketch, [group_col], k=k)
    out = (
        union_est.join(
            F.broadcast(
                per.select(F.col(group_col).alias("ga"), F.col("est_distinct").alias("est_a"))
            ),
            "ga",
        )
        .join(
            F.broadcast(
                per.select(F.col(group_col).alias("gb"), F.col("est_distinct").alias("est_b"))
            ),
            "gb",
        )
    )
    inter = F.greatest(F.col("est_a") + F.col("est_b") - F.col("est_union_raw"), F.lit(0.0))
    return out.select(
        "ga",
        "gb",
        F.round("est_a", 4).alias("est_a"),
        F.round("est_b", 4).alias("est_b"),
        F.round("est_union_raw", 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersect"),
        F.round(inter / F.col("est_union_raw"), 4).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    seed: str = "cms",
) -> DataFrame:
    """Build a d×w Count-Min sketch of ``key_col`` frequencies.

    Plan: exact per-key counts first (partial-agg shrinks the fact table to
    |keys| rows), THEN fan each key out ``depth`` times into (row, bucket)
    cells.  Each row uses an independent md5 (seed:row:key) so two keys
    colliding in one row are independent in the others — the CMS guarantee.
    Returns the sparse grid (row, bucket, cnt); absent cells are zero."""
    per_key = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
    )
    fanned = per_key.select(
        F.col(key_col).alias("key"),
        "cnt",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
    )
    bucket = hash56("row", "key", seed=seed) % F.lit(width)
    cells = fanned.select("row", bucket.alias("bucket"), "cnt")
    return cells.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_point_estimates(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    seed: str = "cms",
) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: estimate = min over
    the d rows of the key's bucket count (0 if a cell is absent). The
    sketch is tiny (≤ d·w cells) and broadcast to the probe side."""
    probes = (
        keys.select(F.col(key_col).alias("key"))
        .distinct()
        .select(
            "key", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
        )
    )
    bucket = hash56("row", "key", seed=seed) % F.lit(width)
    probes = probes.select("key", "row", bucket.alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left").withColumn(
        "cnt", F.coalesce("cnt", F.lit(0))
    )
    return joined.groupBy("key").agg(F.min("cnt").alias("cms_est"))


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# ---------------------------------------------------------------------------


def histogram_bins(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    bins: int = 64,
    edges: tuple[float, float] | None = None,
) -> tuple[DataFrame, float, float]:
    """Mergeable equi-width histogram: global [min, max] edges (two driver
    scalars), per-(group, bin) integer counts. The grid is the sufficient
    statistic — grids built against the SAME edges sum cell-wise, which is
    what makes the quantile path below a one-scan mergeable summary at
    100 TB (the fixed-bin sibling of a t-digest, chosen because its merge
    and its estimates are bit-deterministic). Pass ``edges`` to pin the
    bin layout across batches/partitions (the merge contract); default
    derives them from the input."""
    if edges is None:
        row = df.agg(
            F.min(value_col).alias("mn"), F.max(value_col).alias("mx")
        ).collect()[0]
        mn, mx = float(row["mn"]), float(row["mx"])
    else:
        mn, mx = float(edges[0]), float(edges[1])
    span = mx - mn
    bin_idx = F.least(
        F.floor((F.col(value_col) - F.lit(mn)) / F.lit(span) * F.lit(float(bins))),
        F.lit(bins - 1).cast("long"),
    )
    grid = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bin_idx.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    return grid, mn, mx


def histogram_quantile_estimates(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: list[float],
    bins: int = 64,
) -> DataFrame:
    """Per-group quantile estimates by linear interpolation inside the
    histogram bin where the cumulative count crosses q·N.  Output one row
    per (group, q): (*group_cols, q, est_q) rounded(6).

    The per-group window runs over ≤ ``bins`` rows per group (the grid,
    not the data) — the wide work is all in the mergeable grid build."""
    grid, mn, mx = histogram_bins(df, value_col, group_cols, bins)
    w = float(mx - mn) / float(bins)
    win = Window.partitionBy(*group_cols).orderBy("bin")
    cum = grid.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    totals = grid.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    qdf = cum.join(F.broadcast(totals), list(group_cols))
    out = None
    for q in qs:
        target = F.lit(float(q)) * F.col("n").cast("double")
        hit = qdf.where(
            (F.col("cum").cast("double") >= target)
            & (F.col("cum_prev").cast("double") < target)
        )
        est = (
            F.lit(mn)
            + F.col("bin").cast("double") * F.lit(w)
            + (target - F.col("cum_prev").cast("double"))
            / F.col("cnt").cast("double")
            * F.lit(w)
        )
        rows = hit.select(
            *group_cols, F.lit(float(q)).alias("q"), F.round(est, 6).alias("est_q")
        )
        out = rows if out is None else out.unionByName(rows)
    return out


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (candidate pruning + exact verification)
# ---------------------------------------------------------------------------

def misra_gries_candidates(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Per-partition mergeable Misra-Gries summaries [Misra & Gries 1982;
    Agarwal et al. 2013 mergeable-summaries batch merge]: each partition
    keeps at most ``k`` (key, residual-count) entries; when a merge
    overflows, the (k+1)-th largest residual is subtracted from every
    entry and non-positive entries drop — the subtraction destroys
    ≥ (k+1)·δ mass, so total subtraction per partition is ≤ n_p/(k+1),
    and every key with local frequency > n_p/(k+1) survives.  By
    pigeonhole, any key with GLOBAL frequency > N/(k+1) is local-heavy in
    at least one partition, so the union of partition summaries is a
    superset of the true heavy hitters.

    Scale: the pass is a single Arrow-batch scan (``util.map_arrow``)
    emitting ≤ k rows per partition (k·P total) with NO shuffle; batches
    fold in vectorized via ``pyarrow.compute.value_counts`` (nulls dropped
    — a null key is never a candidate).  This is the hot-key detector that
    feeds skew salting (cf. key_skew_report) without a groupBy over the
    full key space."""

    def summarize(batches):
        import pyarrow.compute as pc

        summary: dict = {}
        for rb in batches:
            vc = pc.value_counts(pc.drop_null(rb.column(key_col)))
            keys, cnts = vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            for key, cnt in zip(keys, cnts):
                summary[key] = summary.get(key, 0) + cnt
            if len(summary) > k:
                # subtract the (k+1)-th largest count from all entries
                cuts = sorted(summary.values(), reverse=True)
                delta = cuts[k]
                summary = {key: c - delta for key, c in summary.items() if c > delta}
        if summary:
            yield list(summary.keys()), list(summary.values())

    return map_arrow(df, [key_col], f"{key_col} string, mg_residual long", summarize)


def heavy_hitters_exact(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Exact heavy hitters {key : freq > N/(k+1)} at one-candidate-set cost:
    MG candidates (≤ k per partition, shuffle-free) → broadcast LEFT SEMI
    prune of the fact table → exact counts over the pruned set → threshold
    against the 1-row total.  The result is EXACT (the sketch only prunes;
    its one-sided guarantee means no true heavy hitter is lost), so the
    oracle is plain SQL with no sketch replication needed."""
    cands = misra_gries_candidates(df, key_col, k).select(key_col).distinct()
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        df.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * (k + 1) > F.col("n_total"))
        .select(key_col, "freq", "n_total")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

HLL_P = 7                 # 2^7 = 128 registers
HLL_M = 1 << HLL_P
HLL_W_BITS = HASH_BITS - HLL_P   # 49 value bits per hash


def hll_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    seed: str = "hll",
) -> DataFrame:
    """HyperLogLog registers per group [Flajolet et al. 2007]: bucket =
    top ``HLL_P`` bits of the 56-bit md5 hash, register = max over keys
    of rho(w) = (leading zeros of the remaining 49 bits) + 1.

    rho is computed from the BINARY STRING LENGTH of w (``bin()`` in
    both engines) — never floor(log2(w)), whose double rounding at exact
    powers of two is engine-undefined.  One row per (group, bucket),
    ≤ 128 rows per group; the register table is mergeable by max, which
    is the property that matters at 100 TB (shard → max-merge, never
    re-scan)."""
    h = hash56(F.col(key_col), seed=seed)
    # integer shift, never double division: h spans 56 bits > the 53-bit
    # double mantissa, so h/2^49 could round UP across a bucket boundary
    bucket = F.shiftright(h, HLL_W_BITS)
    w = h % F.lit(1 << HLL_W_BITS)
    rho = F.when(
        w > 0, F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(HLL_W_BITS + 1))
    return (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.max(rho).alias("reg"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distinct-count estimate from HLL registers, integer-exact up to
    one final float expression: the harmonic sum Σ 2^(−reg) is carried
    as BIGINT Σ 2^(W−reg) (exact powers of two summed exactly — a raw
    double sum of 128 powers spans > 53 mantissa bits and would be
    association-order-dependent), absent buckets contribute 2^W each,
    and the small-range linear-counting correction applies below 2.5·m
    with V = zero registers.  round(est, 4) is the oracle surface."""
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    # scale by 2^(W+1), not 2^W: rho reaches W+1 (all-zero value bits), and
    # 2^((W+1)-rho) must stay a non-negative integer power
    scale = alpha * HLL_M * HLL_M * float(1 << (HLL_W_BITS + 1))
    agg = registers.groupBy(*group_cols).agg(
        # SQL shiftleft: the PySpark wrapper only takes a literal shift
        F.sum(
            F.expr(f"shiftleft(1L, cast({HLL_W_BITS + 1} - reg as int))")
        ).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_present"),
    )
    s_total = F.col("_s_present") + (F.lit(HLL_M) - F.col("_n_present")) * F.lit(
        1 << (HLL_W_BITS + 1)
    )
    v_zero = F.lit(HLL_M) - F.col("_n_present")
    raw = F.lit(scale) / s_total.cast("double")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (v_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("est_distinct"))


def ams_f2_sketch(
    df: DataFrame,
    key_col: str,
    estimators: int = 16,
    seed: str = "ams",
) -> DataFrame:
    """AMS second-frequency-moment sketch [Alon, Matias & Szegedy 1996]:
    F₂ = Σ_key c²_key estimated by k independent ±1-hash projections —
    the join-size / self-join-cardinality estimator (F₂ of a join key IS
    the self-join row count) that answers "can I afford this join"
    from one linear pass, next to CMS (point frequency) and KMV/HLL
    (distinct count) in the sketch family.

        S_j = Σ_key c_key·s_j(key),  s_j ∈ {−1, +1};  E[S_j²] = F₂
        estimate = lower median over k estimators

    Determinism: signs come from the md5 hash56 family (seed:j:key), so
    the oracle replays every estimator exactly; each S_j and S_j² is an
    exact integer (DECIMAL(38,0) for the square).  The EXACT F₂ rides
    along for the relative-error readout — affordable here because the
    key census is already materialized; at 100 TB the estimate column
    is the one you can compute without the census.

    Scale: one key census (the only data-volume pass) → census × k
    map-side explode → k-row aggregate; the median is over k rows."""
    d38 = "decimal(38,0)"
    cen = df.filter(F.col(key_col).isNotNull()).groupBy(
        F.col(key_col).alias("_k")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    exact = cen.agg(
        F.sum(F.col("_c").cast(d38) * F.col("_c").cast(d38)).cast(d38).alias("_f2")
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(estimators - 1))).alias("_j")
    sgn = (hash56(F.col("_j"), F.col("_k"), seed=seed) % 2 == 0).cast("long") * 2 - 1
    ests = (
        cen.select("_k", "_c", j)
        .select("_j", (sgn * F.col("_c")).alias("_sc"))
        .groupBy("_j")
        .agg(F.sum("_sc").cast("long").alias("_s"))
        .select(
            "_j",
            (F.col("_s").cast(d38) * F.col("_s").cast(d38)).cast(d38).alias("_e"),
        )
    )
    ranked = ests.select(
        "_e",
        F.row_number().over(
            Window.orderBy(F.col("_e").asc(), F.col("_j").asc())
        ).alias("_i"),
    )
    med = ranked.filter(F.col("_i") == (estimators + 1) // 2).select(
        F.col("_e").alias("_est")
    )
    out = exact.crossJoin(F.broadcast(med))
    return out.select(
        F.col("_f2").cast("long").alias("f2_exact"),
        F.col("_est").cast("long").alias("f2_estimate"),
        F.round(
            F.abs(F.col("_est").cast("double") - F.col("_f2").cast("double"))
            / F.col("_f2").cast("double"),
            6,
        ).alias("rel_err"),
    )
