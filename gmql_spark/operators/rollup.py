"""Tumbling-window rollups + retention-tier cascade.

This is the recast of GMQL's MAP operator (``IRGenometricMap``,
``IROperators.scala:378-380``; Spark impl
``GenometricMap71.scala:23-203``): the reference bins regions, joins
ref×exp by (bin, chrom) with replication, and runs per-column aggregates
with a two-level combine (in-bin reduce then ``reduceByKey`` across bins,
``GenometricMap71.scala:110-123``). For tumbling event-time windows no
join is needed at all: ``groupBy(conv_id, window(ts, Δ))`` *is* the
binning, and Catalyst's hash aggregate *is* the two-level
partial/final combine.

Scale notes:
- one shuffle for the lag window (by conv_id), one for the aggregate
  (by conv_id+window). When the input table is written bucketed by
  conv_id (catalog.write_transcripts), the first shuffle reads
  co-located data.
- percentiles are exact, computed per tier from the raw gap column via
  a rank + hash-agg plan fused into the tier's aggregate (NOT the
  built-in ``percentile`` aggregate, whose ObjectHashAggregate falls
  back to sort-based object aggregation past 128 groups/partition).
  The exact-percentile contract forces one raw-scale pass per tier, so
  without sketches every tier is a direct ``rollup`` of raw — the one
  tier builder behind ``rollup_all_tiers``, ``checkpoint.run_pipeline``
  and ``incremental.refresh_tiers``.
- ``rollup_tier_from`` (``cascade_rollup`` of the finer tier ⨝
  ``percentiles_for_tier`` from raw) now serves only the sketch cascade
  (sketch columns are mergeable carriers, rebuilt tier→tier) and the
  differential tests; ``cascade_rollup`` alone also backs the GSL and
  job-spec ``cascade`` steps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmql_spark.functions.aggregates import counts_map

TIER_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}
# fan-in of each tier from the previous one (for cascade)
TIER_PARENT = {"1h": "1m", "1d": "1h"}

PCTS = (0.50, 0.95, 0.99)
PCT_NAMES = ("latency_p50", "latency_p95", "latency_p99")

# input_hint defines a closed role domain; known categories keep the
# histogram aggregate in pure count_if codegen (no collect_list /
# ObjectHashAggregate on raw-scale data). Tools are an open set by
# default -> two-level counts (hash count first, tiny object agg after).
DEFAULT_ROLES = ("user", "assistant", "system", "tool")


def with_gap_seconds(
    df: DataFrame,
    key: str = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Add ``gap_s``: seconds since the previous turn of the conversation
    (stable order = turn_idx), null for the first turn.

    Computed in integer microseconds first (``unix_micros``) so the double
    result is bit-identical to the pandas/DuckDB oracles.

    Idempotent: if the input already carries ``gap_us`` (e.g. the fact
    table was written with ingest-time gap precomputation,
    ``catalog.write_transcripts(precompute_gaps=True)``), the window
    pass — a full sort shuffle of raw — is skipped entirely."""
    if "gap_us" in df.columns:
        if "gap_s" not in df.columns:
            df = df.withColumn("gap_s", F.col("gap_us") / F.lit(1e6))
        return df
    order_cols = [order] if isinstance(order, str) else list(order)
    w = Window.partitionBy(key).orderBy(*order_cols)
    us = F.unix_micros(F.col(ts))
    return df.withColumn("gap_us", us - F.lag(us).over(w)).withColumn(
        "gap_s", F.col("gap_us") / F.lit(1e6)
    )


def rollup(
    df: DataFrame,
    tier: str = "1m",
    key: str = "conv_id",
    ts: str = "ts",
    role_values: Sequence[str] | None = DEFAULT_ROLES,
    tool_values: Sequence[str] | None = None,
    with_gaps: bool = True,
    with_sketches: bool | str = False,
) -> DataFrame:
    """Direct rollup of raw transcripts to one retention tier.

    Output grain: (key, window_start). Columns: turn_count,
    role_counts/tool_counts (map<string,bigint>), exact latency
    percentiles p50/p95/p99 over inter-turn gaps, latency_cnt/sum,
    first_ts/last_ts.

    ``with_sketches=True`` additionally stores two *mergeable* sketches
    per tier row (``functions.sketches``): ``lat_hist`` (log₂ gap_us
    histogram, exact tier→tier merge, bounded-error percentile
    extraction) and ``tool_hll`` (HLL distinct-tool sketch). They let a
    coarser tier answer percentile/distinct questions from the finer
    tier alone — no raw re-scan, the expensive part of a tier build at
    warehouse scale. ``with_sketches="digest"`` additionally stores
    ``lat_digest`` (t-digest of gap_us, ``functions.tdigest``) — the
    tighter-error mergeable percentile sketch (<1% cascaded vs the
    histogram's 2×-of-bin-width); its serving accuracy is exact-gated
    by the ``percentile_digest_ok`` board query.

    Category histograms: known value lists compile to count_if columns
    (whole-stage codegen); None -> two-level plan (hash count per
    category, then a map assembly agg over tier-sized rows) so no
    object aggregate ever runs over raw-scale data.
    """
    if with_gaps:
        df = with_gap_seconds(df, key=key, ts=ts)
    win = F.window(ts, TIER_DURATION[tier])
    # r8: the exact-percentile rank pass is FUSED into the main
    # aggregate instead of a separate percentiles_for_tier + join. The
    # rank window and the groupBy share the same (key, window) hash
    # partitioning, so the plan is ONE exchange + sort + aggregate —
    # the former shape paid a second raw-scale exchange for the rank
    # pass plus a tier-sized join per tier. Nulls-last ordering keeps
    # the rank arithmetic identical to the filtered pre-r8 pass: the
    # k non-null gaps rank 0..k−1 (null gaps sort after and can never
    # equal a lo/hi index, which are ≤ k−1), and n counts non-nulls.
    w_rank = Window.partitionBy(key, win).orderBy(F.col("gap_s").asc_nulls_last())
    w_part = Window.partitionBy(key, win)
    d = df.withColumn("_rn", F.row_number().over(w_rank) - 1).withColumn(
        "_ng", F.count("gap_s").over(w_part)
    )
    pct_aggs = []
    for i, p in enumerate(PCTS):
        pos = F.lit(p) * (F.col("_ng") - 1)
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        pct_aggs += [
            F.max(F.when(F.col("_rn") == lo, F.col("gap_s"))).alias(f"_lov{i}"),
            F.max(F.when(F.col("_rn") == hi, F.col("gap_s"))).alias(f"_hiv{i}"),
            F.max(pos).alias(f"_p{i}"),
            F.max(lo).alias(f"_l{i}"),
            F.max(hi).alias(f"_h{i}"),
        ]
    aggs = [
        F.count(F.lit(1)).alias("turn_count"),
        *(
            [counts_map(F.col("role"), role_values).alias("role_counts")]
            if role_values is not None
            else []
        ),
        *(
            [counts_map(F.col("tool"), tool_values).alias("tool_counts")]
            if tool_values is not None
            else []
        ),
        F.count("gap_s").alias("latency_cnt"),
        # exact integer-µs sum: order-independent across partial aggs AND
        # across tier cascades (long addition is associative; double is not)
        F.sum("gap_us").alias("latency_sum_us"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
        *pct_aggs,
    ]
    agged = d.groupBy(key, win.alias("w")).agg(*aggs)
    pct_cols = []
    for i, name in enumerate(PCT_NAMES):
        lo_v, hi_v = F.col(f"_lov{i}"), F.col(f"_hiv{i}")
        pos, lo, hi = F.col(f"_p{i}"), F.col(f"_l{i}"), F.col(f"_h{i}")
        pct_cols.append(
            F.when(lo == hi, lo_v)
            .otherwise(lo_v * (hi - pos) + hi_v * (pos - lo))
            .alias(name)
        )
    keep = [
        c
        for c in agged.columns
        if c not in (key, "w") and not c.startswith(("_lov", "_hiv", "_p", "_l", "_h"))
    ]
    main = agged.select(
        key,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keep,
        *pct_cols,
    )
    empty_map = F.expr("cast(map() as map<string,bigint>)")
    if role_values is None:
        rc = two_level_counts(df, "role", tier, key=key, ts=ts, out="role_counts")
        main = main.join(rc, on=[key, "window_start"], how="left").withColumn(
            "role_counts", F.coalesce(F.col("role_counts"), empty_map)
        )
    if tool_values is None:
        tc = two_level_counts(df, "tool", tier, key=key, ts=ts, out="tool_counts")
        main = main.join(tc, on=[key, "window_start"], how="left").withColumn(
            "tool_counts", F.coalesce(F.col("tool_counts"), empty_map)
        )
    sketch_cols: list[str] = []
    if with_sketches:
        with_digest = with_sketches == "digest"
        main = _join_sketches(main, df, tier, key=key, ts=ts, with_digest=with_digest)
        sketch_cols = SKETCH_COLS + (["lat_digest"] if with_digest else [])
    return main.select(
        key,
        "window_start",
        "window_end",
        "turn_count",
        "role_counts",
        "tool_counts",
        *PCT_NAMES,
        "latency_cnt",
        "latency_sum_us",
        "first_ts",
        "last_ts",
        *sketch_cols,
    )


SKETCH_COLS = ["lat_hist", "tool_hll"]


def _join_sketches(
    main: DataFrame, raw_g: DataFrame, tier: str, key: str, ts: str,
    with_digest: bool = False,
) -> DataFrame:
    """Attach lat_hist + tool_hll (and optionally lat_digest) at
    (key, window_start) grain; all joins are tier-sized, left, with
    empty-sketch backfill (a window can have turns but no gaps/tools —
    lat_digest stays NULL there, like tool_hll)."""
    from gmql_spark.functions.sketches import hist_rollup, hll_rollup

    empty_hist = F.expr("cast(map() as map<int,bigint>)")
    hist = hist_rollup(raw_g, tier, keys=[key], value_col="gap_us", ts=ts).drop(
        "window_end"
    )
    hll = hll_rollup(raw_g, tier, col="tool", keys=[key], ts=ts, out="tool_hll").drop(
        "window_end"
    )
    out = (
        main.join(hist, on=[key, "window_start"], how="left")
        .join(hll, on=[key, "window_start"], how="left")
        .withColumn("lat_hist", F.coalesce(F.col("lat_hist"), empty_hist))
    )
    if with_digest:
        from gmql_spark.functions.tdigest import tdigest_rollup

        dig = tdigest_rollup(
            raw_g, tier, keys=[key], value_col="gap_us", ts=ts
        ).select(
            key,
            "window_start",
            F.struct("means", "weights", "vmin", "vmax").alias("lat_digest"),
        )
        out = out.join(dig, on=[key, "window_start"], how="left")
    return out


def two_level_counts(
    df: DataFrame, col: str, tier: str, key: str = "conv_id", ts: str = "ts",
    out: str = "counts",
) -> DataFrame:
    """Histogram map for an unbounded category column without object
    aggregation over raw data: hash-count per (key, window, category)
    first, then assemble the map from the (small) counted rows."""
    win = F.window(ts, TIER_DURATION[tier])
    counted = (
        df.filter(F.col(col).isNotNull())
        .groupBy(key, win.alias("w"), F.col(col).alias("_cat"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        counted.groupBy(key, F.col("w.start").alias("window_start"))
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("_cat", "_n")))
            ).alias(out)
        )
    )


def _merged_counts_col(col: str, values: Sequence[str]) -> Column:
    """Aggregate merging ``map<string,bigint>`` histograms over a KNOWN
    category domain entirely inside one hash aggregate: per category,
    ``sum(element_at(map, cat))`` (null when absent everywhere — entry
    filtered out, matching the explode path's no-rows case), assembled
    sorted by category — the same entry order the generic explode +
    map_from_entries(array_sort(...)) path produces."""
    entries = F.array(
        *[
            F.struct(
                F.lit(v).alias("_cat"),
                F.sum(F.element_at(F.col(col), F.lit(v))).alias("_n"),
            )
            for v in sorted(values)
        ]
    )
    return F.map_from_entries(F.filter(entries, lambda e: e["_n"].isNotNull()))


def cascade_rollup(
    finer: DataFrame,
    tier: str,
    key: str = "conv_id",
    role_values: Sequence[str] | None = None,
    tool_values: Sequence[str] | None = None,
) -> DataFrame:
    """Re-aggregate a finer tier to a coarser one for all *mergeable*
    stats (counts, histogram maps, min/max, sums). Percentiles are not
    mergeable and are absent from the result — join in
    ``percentiles_for_tier`` (exact-from-raw) or accept sketches.

    ``role_values``/``tool_values`` (r8): when the category domains are
    known (the same closed-domain contract as ``rollup``), the map
    merges ride the scalars aggregate via ``_merged_counts_col`` — one
    aggregate, no explode passes, no joins. Identical output to the
    generic path (differential-tested).

    Composition laws verified by tests: sum∘count = count, map-merge of
    value-counts = value-counts of union, min∘min, max∘max.
    """
    win = F.window("window_start", TIER_DURATION[tier])
    fused = [
        _merged_counts_col(col, vals).alias(col)
        for col, vals in (("role_counts", role_values), ("tool_counts", tool_values))
        if vals is not None
    ]
    scalars = (
        finer.groupBy(key, win.alias("w"))
        .agg(
            F.sum("turn_count").alias("turn_count"),
            F.sum("latency_cnt").alias("latency_cnt"),
            F.sum("latency_sum_us").alias("latency_sum_us"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
            *fused,
        )
        .select(
            key,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "turn_count",
            "latency_cnt",
            "latency_sum_us",
            "first_ts",
            "last_ts",
            *[
                col
                for col, vals in (("role_counts", role_values), ("tool_counts", tool_values))
                if vals is not None
            ],
        )
    )
    # histogram-map merge via explode -> codegen hash sum -> map assembly
    # over the (small) per-category rows. A direct HOF fold over
    # collect_list(map) would be an ObjectHashAggregate on the whole
    # finer tier — the 128-group sort fallback again.
    empty_map = F.expr("cast(map() as map<string,bigint>)")
    out = scalars
    generic_cols = [
        col
        for col, vals in (("role_counts", role_values), ("tool_counts", tool_values))
        if vals is None
    ]
    for col in generic_cols:
        cat = (
            finer.select(key, win.alias("w"), F.explode(col).alias("_cat", "_v"))
            .groupBy(key, F.col("w.start").alias("window_start"), "_cat")
            .agg(F.sum("_v").alias("_n"))
            .groupBy(key, "window_start")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("_cat", "_n")))
                ).alias(col)
            )
        )
        out = out.join(cat, on=[key, "window_start"], how="left").withColumn(
            col, F.coalesce(F.col(col), empty_map)
        )
    sketch_cols: list[str] = []
    if "lat_hist" in finer.columns:
        from gmql_spark.functions.sketches import hist_cascade, hll_cascade

        empty_hist = F.expr("cast(map() as map<int,bigint>)")
        hist = hist_cascade(finer, tier, keys=[key]).drop("window_end")
        hll = hll_cascade(
            finer.filter(F.col("tool_hll").isNotNull()), tier, keys=[key],
            col="tool_hll",
        ).drop("window_end")
        out = (
            out.join(hist, on=[key, "window_start"], how="left")
            .join(hll, on=[key, "window_start"], how="left")
            .withColumn("lat_hist", F.coalesce(F.col("lat_hist"), empty_hist))
        )
        sketch_cols = list(SKETCH_COLS)
    if "lat_digest" in finer.columns:
        from gmql_spark.functions.tdigest import tdigest_cascade

        dsrc = finer.filter(F.col("lat_digest").isNotNull()).select(
            key, "window_start", "lat_digest.*"
        )
        dig = tdigest_cascade(dsrc, tier, keys=[key]).select(
            key,
            "window_start",
            F.struct("means", "weights", "vmin", "vmax").alias("lat_digest"),
        )
        out = out.join(dig, on=[key, "window_start"], how="left")
        sketch_cols = sketch_cols + ["lat_digest"]
    return out.select(
        key,
        "window_start",
        "window_end",
        "turn_count",
        "role_counts",
        "tool_counts",
        "latency_cnt",
        "latency_sum_us",
        "first_ts",
        "last_ts",
        *sketch_cols,
    )


def percentiles_for_tier(
    raw: DataFrame, tier: str, key: str = "conv_id", ts: str = "ts", with_gaps: bool = True
) -> DataFrame:
    """Exact latency percentiles at a tier's grain, from raw gaps — the
    percentile half of ``rollup_tier_from`` (sketch cascade and tests;
    ``rollup`` fuses the same rank pass into its aggregate).

    Implemented as sort + rank + plain hash aggregate, NOT Spark's
    ``percentile`` aggregate: the built-in is a TypedImperativeAggregate
    (ObjectHashAggregate) that falls back to slow sort-based object
    aggregation beyond 128 groups per partition — catastrophic at
    millions of (conv, window) groups. Here:

      rank gaps within (key, window) [one Tungsten sort shuffle] →
      per-row lo/hi/pos from the group count →
      max(when(rn == lo/hi)) in a codegen hash agg →
      lo_v*(hi-pos) + hi_v*(pos-lo)

    — the exact interpolation Spark's own percentile uses, so results
    stay bit-identical to the oracles while the plan stays whole-stage
    codegen end to end. ~4x faster and scales with cores."""
    if with_gaps:
        raw = with_gap_seconds(raw, key=key, ts=ts)
    win = F.window(ts, TIER_DURATION[tier])
    g = raw.filter(F.col("gap_s").isNotNull()).select(key, F.col(ts).alias("_ts"), "gap_s")
    gwin = F.window("_ts", TIER_DURATION[tier])
    w_rank = Window.partitionBy(key, gwin).orderBy("gap_s")
    w_part = Window.partitionBy(key, gwin)
    d = g.select(
        key,
        gwin.alias("w"),
        "gap_s",
        (F.row_number().over(w_rank) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_part).alias("n"),
    )
    for i, p in enumerate(PCTS):
        pos = F.lit(p) * (F.col("n") - 1)
        d = (
            d.withColumn(f"_pos{i}", pos)
            .withColumn(f"_lo{i}", F.floor(pos).cast("long"))
            .withColumn(f"_hi{i}", F.ceil(pos).cast("long"))
        )
    aggs = []
    for i in range(len(PCTS)):
        aggs += [
            F.max(F.when(F.col("rn") == F.col(f"_lo{i}"), F.col("gap_s"))).alias(f"_lov{i}"),
            F.max(F.when(F.col("rn") == F.col(f"_hi{i}"), F.col("gap_s"))).alias(f"_hiv{i}"),
            F.max(f"_pos{i}").alias(f"_p{i}"),
            F.max(f"_lo{i}").alias(f"_l{i}"),
            F.max(f"_hi{i}").alias(f"_h{i}"),
        ]
    agged = d.groupBy(key, "w").agg(*aggs)
    pct_cols = []
    for i, name in enumerate(PCT_NAMES):
        lo_v, hi_v = F.col(f"_lov{i}"), F.col(f"_hiv{i}")
        pos, lo, hi = F.col(f"_p{i}"), F.col(f"_l{i}"), F.col(f"_h{i}")
        pct_cols.append(
            F.when(lo == hi, lo_v)
            .otherwise(lo_v * (hi - pos) + hi_v * (pos - lo))
            .alias(name)
        )
    return agged.select(key, F.col("w.start").alias("window_start"), *pct_cols)


def exact_percentiles(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    pcts: Sequence[float] = PCTS,
    names: Sequence[str] = PCT_NAMES,
    extra_aggs: Sequence[Column] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact percentiles of ``value`` per key group — the same rank +
    hash-agg + lerp plan as :func:`percentiles_for_tier`, for arbitrary
    (non-windowed) groupings (EXTEND/AggregateRD recast,
    ``AggregateRD.scala:17-53``; Q1/Q2/Q3 builtins
    ``DefaultRegionsToMetaFactory.scala:12-290``).

    Interpolation is ``lo_v*(hi-pos) + hi_v*(pos-lo)`` — bit-identical to
    the DuckDB/pandas oracles, unlike the built-in ``F.percentile`` whose
    ``lo + d*(hi-lo)`` form differs by an ulp on some inputs AND plans an
    ObjectHashAggregate (sort-based fallback past 128 groups/partition).
    Null values are skipped (GMQL aggregate null-skip semantics).

    ``extra_aggs`` (r8): additional aggregates computed INSIDE the same
    groupBy (over the null-filtered rows), so callers that previously
    paid a separate base aggregate + join share this pass's single
    exchange+sort; ``extra_cols`` lists any additional input columns
    they reference."""
    keys = list(keys)
    g = df.filter(F.col(value).isNotNull()).select(*keys, value, *extra_cols)
    w_rank = Window.partitionBy(*keys).orderBy(value)
    w_part = Window.partitionBy(*keys)
    d = g.select(
        *keys,
        value,
        *extra_cols,
        (F.row_number().over(w_rank) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_part).alias("n"),
    )
    for i, p in enumerate(pcts):
        pos = F.lit(p) * (F.col("n") - 1)
        d = (
            d.withColumn(f"_pos{i}", pos)
            .withColumn(f"_lo{i}", F.floor(pos).cast("long"))
            .withColumn(f"_hi{i}", F.ceil(pos).cast("long"))
        )
    aggs = []
    for i in range(len(pcts)):
        aggs += [
            F.max(F.when(F.col("rn") == F.col(f"_lo{i}"), F.col(value))).alias(f"_lov{i}"),
            F.max(F.when(F.col("rn") == F.col(f"_hi{i}"), F.col(value))).alias(f"_hiv{i}"),
            F.max(f"_pos{i}").alias(f"_p{i}"),
            F.max(f"_lo{i}").alias(f"_l{i}"),
            F.max(f"_hi{i}").alias(f"_h{i}"),
        ]
    agged = d.groupBy(*keys).agg(*aggs, *extra_aggs)
    pct_cols = []
    for i, name in enumerate(names):
        lo_v, hi_v = F.col(f"_lov{i}"), F.col(f"_hiv{i}")
        pos, lo, hi = F.col(f"_p{i}"), F.col(f"_l{i}"), F.col(f"_h{i}")
        pct_cols.append(
            F.when(lo == hi, lo_v)
            .otherwise(lo_v * (hi - pos) + hi_v * (pos - lo))
            .alias(name)
        )
    extra_names = agged.columns[len(keys) + 5 * len(pcts):]
    return agged.select(*keys, *pct_cols, *extra_names)


def rollup_tier_from(
    finer: DataFrame,
    raw: DataFrame,
    tier: str,
    key: str = "conv_id",
    ts: str = "ts",
    with_gaps: bool = True,
    role_values: Sequence[str] | None = None,
    tool_values: Sequence[str] | None = None,
) -> DataFrame:
    """Full coarser-tier rollup = cascade(mergeables from finer tier)
    ⨝ exact percentiles from raw. Used by the sketch cascade only (and
    tests): without sketches a direct ``rollup`` of raw is the cheaper
    plan for every tier. The join keys are (key, window_start)
    at identical grain, both sides already hash-partitioned by the
    aggregate — Catalyst plans a shuffle-free sort-merge or reuses the
    exchange under AQE. Known category domains
    (``role_values``/``tool_values``) fuse the map merges into the
    cascade aggregate (see ``cascade_rollup``)."""
    merged = cascade_rollup(
        finer, tier, key=key, role_values=role_values, tool_values=tool_values
    )
    pct = percentiles_for_tier(raw, tier, key=key, ts=ts, with_gaps=with_gaps)
    out = merged.join(pct, on=[key, "window_start"], how="left")
    sketch_cols = [c for c in (*SKETCH_COLS, "lat_digest") if c in merged.columns]
    return out.select(
        key,
        "window_start",
        "window_end",
        "turn_count",
        "role_counts",
        "tool_counts",
        *PCT_NAMES,
        "latency_cnt",
        "latency_sum_us",
        "first_ts",
        "last_ts",
        *sketch_cols,
    )


def rollup_all_tiers(
    raw: DataFrame,
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    key: str = "conv_id",
    ts: str = "ts",
    role_values: Sequence[str] | None = DEFAULT_ROLES,
    tool_values: Sequence[str] | None = None,
    cache_gaps: bool = False,
    persist_tiers: bool = False,
    return_gaps: bool = False,
    with_sketches: bool | str = False,
):
    """The retention cascade raw → 1m → 1h → 1d. Gap column is computed
    once; the raw-with-gaps frame feeds the 1m rollup and each tier's
    exact-percentile pass (``cache_gaps=True`` persists it across those
    consumers — the common-subplan reuse the reference does with
    ``intermediateResult`` memoization, ``IROperator.scala:11``).

    Tier shape (r8): without sketches, every tier is a DIRECT fused
    rollup of the gap frame — the exact-percentile contract forces one
    raw-scale exchange+sort per tier regardless, and the fused rollup
    computes all mergeables inside that same pass, so the coarser tier
    costs exchange+sort+agg with ZERO joins, strictly less than
    cascade(finer) ⨝ percentiles(raw) (which still paid the raw pass
    PLUS cascade aggregates plus joins). With sketches the cascade path
    stays: sketch columns are the mergeable-by-construction carriers
    (cascaded digests ≠ rebuilt-from-raw digests, and rebuilding them
    per tier would re-scan raw through Arrow)."""
    raw_g = with_gap_seconds(raw, key=key, ts=ts).select(
        key, ts, "role", "tool", "gap_us", "gap_s"
    )
    if cache_gaps:
        raw_g = raw_g.persist()
    out: dict[str, DataFrame] = {}
    prev = None
    for t in tiers:
        if prev is None or not with_sketches:
            out[t] = rollup(
                raw_g, t, key=key, ts=ts, with_gaps=False,
                role_values=role_values, tool_values=tool_values,
                with_sketches=with_sketches,
            )
        else:
            out[t] = rollup_tier_from(
                out[prev], raw_g, t, key=key, ts=ts, with_gaps=False,
                role_values=role_values, tool_values=tool_values,
            )
        if persist_tiers:
            # tiers are tiny relative to raw; persisting stops the lazy
            # cascade from recomputing the whole finer tier inside every
            # coarser tier's job (without this, 1d recomputes 1h which
            # recomputes 1m — quadratic re-aggregation)
            out[t] = out[t].persist()
        prev = t
    if return_gaps:
        # hand the (possibly persisted) gap frame to the caller so it
        # can unpersist between benchmark reps — otherwise the cache
        # manager's plan matching lets rep 2 skip the gap window
        return out, raw_g
    return out
