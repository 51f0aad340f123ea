"""Statistical-inference, growth-accounting, and spatial-analytics
queries: correlation matrix (global and rolling), cumulative distinct
users, new-vs-returning / stickiness / churn, trimmed/winsorized
robust means, chi-square and Welch-t A/B tests, per-group OLS,
market-basket lift, snapshot diff, time-windowed dedup, broadcast
haversine k-NN, month-over-month growth, and time-to-convert latency.

These extend the engine the same way the reference's completeness /
partition-stats checks do (/root/reference/src/hls_stac_parquet/
write.py:172-202 computes set-difference audits over grouped keys):
each is an audit/inference pass over a keyed aggregate, built so the
expensive part is ONE partial-aggregate shuffle and every later stage
runs over a small derived table (broadcast-joined or window-over-
aggregate).  All are exact and DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hls_stac_parquet_spark.queries.registry import finite as _finite, query, t
from hls_stac_parquet_spark.tuning import materialize


@query(
    "q_corr_matrix",
    oracle=(
        "WITH c AS (SELECT "
        "  corr(l_quantity, l_extendedprice) AS qty_price, "
        "  corr(l_quantity, l_discount)      AS qty_disc, "
        "  corr(l_quantity, l_tax)           AS qty_tax, "
        "  corr(l_extendedprice, l_discount) AS price_disc, "
        "  corr(l_extendedprice, l_tax)      AS price_tax, "
        "  corr(l_discount, l_tax)           AS disc_tax "
        "FROM lineitem) "
        "SELECT pair, round(r, 6) AS r FROM ("
        "  SELECT 'qty_price' AS pair, qty_price AS r FROM c UNION ALL "
        "  SELECT 'qty_disc', qty_disc FROM c UNION ALL "
        "  SELECT 'qty_tax', qty_tax FROM c UNION ALL "
        "  SELECT 'price_disc', price_disc FROM c UNION ALL "
        "  SELECT 'price_tax', price_tax FROM c UNION ALL "
        "  SELECT 'disc_tax', disc_tax FROM c)"
    ),
)
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the numeric lineitem
    measures, emitted in long form (pair, r).

    All six correlations ride ONE partial-aggregate pass (Catalyst
    fuses the six `corr` aggregates into a single hash-aggregate over
    the scan), then a 1-row stack — the canonical single-shuffle
    feature-screening pass; group cardinality 1, so scale-up only
    widens the map side.
    """
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("qty_price"),
        F.corr("l_quantity", "l_discount").alias("qty_disc"),
        F.corr("l_quantity", "l_tax").alias("qty_tax"),
        F.corr("l_extendedprice", "l_discount").alias("price_disc"),
        F.corr("l_extendedprice", "l_tax").alias("price_tax"),
        F.corr("l_discount", "l_tax").alias("disc_tax"),
    )
    return agg.select(
        F.expr(
            "stack(6, 'qty_price', qty_price, 'qty_disc', qty_disc, "
            "'qty_tax', qty_tax, 'price_disc', price_disc, "
            "'price_tax', price_tax, 'disc_tax', disc_tax) AS (pair, r)"
        )
    ).select("pair", F.round("r", 6).alias("r"))


@query(
    "q_cumulative_distinct",
    oracle=(
        "WITH first_seen AS ("
        "  SELECT user_id, min(CAST(ts AS DATE)) AS first_day "
        "  FROM events WHERE ts IS NOT NULL GROUP BY user_id), "
        "per_day AS ("
        "  SELECT first_day AS day, count(*) AS new_users "
        "  FROM first_seen GROUP BY first_day) "
        "SELECT day, new_users, "
        "  CAST(sum(new_users) OVER (ORDER BY day NULLS LAST "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "    AS cum_users "
        "FROM per_day"
    ),
)
def q_cumulative_distinct(spark, sf_dir):
    """Daily cumulative distinct users — running COUNT(DISTINCT) made
    scale-safe by the first-touch identity: a user contributes to the
    cumulative count exactly on their first-seen day, so cumulative
    distinct == prefix-sum of first-seen counts.

    One user-keyed aggregate (the only real shuffle) reduces events to
    one row per user; everything after runs over the ~days-sized
    aggregate, where the single-partition window is free.  The naive
    formulation (distinct over an expanding window) is quadratic and
    un-shardable; this one is linear and survives any scale.

    NULL semantics are declared on BOTH engines: events with a NULL
    `ts` carry no arrival day and are excluded up front (a user whose
    every event is NULL-timestamped simply never arrives).  Without
    the filter the running sum ordered a NULL day FIRST on Spark and
    LAST on DuckDB — the round-5 driver red.  The window order is
    additionally pinned NULLS LAST on both sides as belt-and-braces.
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy(F.col("day").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.withColumn("cum_users", F.sum("new_users").over(w))


@query(
    "q_trimmed_mean",
    oracle=(
        "WITH ranked AS ("
        "  SELECT l_returnflag, l_extendedprice, "
        "    row_number() OVER (PARTITION BY l_returnflag "
        "                       ORDER BY l_extendedprice) AS rn, "
        "    count(*) OVER (PARTITION BY l_returnflag) AS n "
        "  FROM lineitem), "
        "kept AS ("
        "  SELECT l_returnflag, l_extendedprice FROM ranked "
        "  WHERE rn > floor(0.1 * n) AND rn <= n - floor(0.1 * n)), "
        "bounds AS ("
        "  SELECT l_returnflag, min(l_extendedprice) AS lo, "
        "         max(l_extendedprice) AS hi FROM kept GROUP BY l_returnflag) "
        "SELECT r.l_returnflag, "
        "  round(avg(CASE WHEN r.rn > floor(0.1*r.n) "
        "                  AND r.rn <= r.n - floor(0.1*r.n) "
        "            THEN r.l_extendedprice END), 6) AS trimmed_mean, "
        "  round(avg(least(greatest(r.l_extendedprice, b.lo), b.hi)), 6) "
        "    AS winsorized_mean "
        "FROM ranked r JOIN bounds b USING (l_returnflag) "
        "GROUP BY r.l_returnflag"
    ),
)
def q_trimmed_mean(spark, sf_dir):
    """10% two-sided trimmed mean and winsorized mean per return flag
    — robust central tendency for corpora with heavy-tailed junk
    (doc lengths, fetch latencies).

    Exact by construction: a per-group rank (one shuffle on the group
    key) defines the kept band; the winsorized clamp bounds come from
    a tiny per-group aggregate joined back by broadcast.  Value ties
    at the trim boundary are safe — row_number may permute equal
    values, but the kept *multiset* is unchanged.  At 100 TB the sort
    is per-group (parallel across the 3 flags' hash partitions); for
    million-group workloads the same shape holds with no change.
    """
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    in_band = (F.col("rn") > F.floor(0.1 * F.col("n"))) & (
        F.col("rn") <= F.col("n") - F.floor(0.1 * F.col("n"))
    )
    bounds = (
        ranked.filter(in_band)
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )
    return (
        ranked.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.avg(F.when(in_band, F.col("l_extendedprice"))), 6
            ).alias("trimmed_mean"),
            F.round(
                F.avg(
                    F.least(
                        F.greatest(F.col("l_extendedprice"), F.col("lo")),
                        F.col("hi"),
                    )
                ),
                6,
            ).alias("winsorized_mean"),
        )
    )


@query(
    "q_chi2_conversion",
    oracle=(
        "WITH per_user AS ("
        "  SELECT user_id, CAST(user_id % 2 AS INT) AS variant, "
        "    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "         AS INT) AS converted "
        "  FROM events GROUP BY user_id), "
        "cells AS ("
        "  SELECT variant, converted, CAST(count(*) AS DOUBLE) AS obs "
        "  FROM per_user GROUP BY variant, converted), "
        "tot AS (SELECT sum(obs) AS n FROM cells), "
        "margins AS ("
        "  SELECT c.variant, c.converted, c.obs, "
        "    sum(c.obs) OVER (PARTITION BY c.variant) AS row_tot, "
        "    sum(c.obs) OVER (PARTITION BY c.converted) AS col_tot "
        "  FROM cells c) "
        "SELECT round(sum((m.obs - m.row_tot * m.col_tot / t.n) "
        "  * (m.obs - m.row_tot * m.col_tot / t.n) "
        "  / (m.row_tot * m.col_tot / t.n)), 6) AS chi2, "
        "  CAST(max(t.n) AS BIGINT) AS n_users "
        "FROM margins m, tot t"
    ),
)
def q_chi2_conversion(spark, sf_dir):
    """Chi-square independence test on a 2x2 A/B contingency table
    (variant = user_id parity, outcome = ever purchased).

    Experiment readout as a dataflow: one user-keyed aggregate
    (the only event-scale shuffle), then the contingency table is 4
    rows — margins, expected counts, and the statistic all run on the
    driver-sized aggregate.  The canonical shape for metric audits
    over petabyte event logs: statistics on tiny derived tables, never
    on the raw stream.
    """
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("int").alias("converted")
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    cells = per_user.groupBy("variant", "converted").agg(
        F.count("*").cast("double").alias("obs")
    )
    wv = Window.partitionBy("variant")
    wc = Window.partitionBy("converted")
    wall = Window.partitionBy()
    m = (
        cells.withColumn("row_tot", F.sum("obs").over(wv))
        .withColumn("col_tot", F.sum("obs").over(wc))
        .withColumn("n", F.sum("obs").over(wall))
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return m.agg(
        F.round(F.sum((F.col("obs") - exp) * (F.col("obs") - exp) / exp), 6).alias(
            "chi2"
        ),
        F.max("n").cast("bigint").alias("n_users"),
    )


@query(
    "q_welch_ttest",
    oracle=(
        "WITH g AS ("
        "  SELECT CAST(user_id % 2 AS INT) AS variant, "
        "    avg(value) AS m, var_samp(value) AS v, "
        "    CAST(count(*) AS DOUBLE) AS n "
        "  FROM events WHERE event_type = 'purchase' AND isfinite(value) "
        "  GROUP BY variant), "
        "w AS (SELECT "
        "  max(CASE WHEN variant = 1 THEN m END) AS m1, "
        "  max(CASE WHEN variant = 0 THEN m END) AS m0, "
        "  max(CASE WHEN variant = 1 THEN v END) AS v1, "
        "  max(CASE WHEN variant = 0 THEN v END) AS v0, "
        "  max(CASE WHEN variant = 1 THEN n END) AS n1, "
        "  max(CASE WHEN variant = 0 THEN n END) AS n0 FROM g) "
        "SELECT round((m1 - m0) / sqrt(v1/n1 + v0/n0), 6) AS t_stat, "
        "  round((v1/n1 + v0/n0) * (v1/n1 + v0/n0) / "
        "    ((v1/n1)*(v1/n1)/(n1-1) + (v0/n0)*(v0/n0)/(n0-1)), 6) AS df, "
        "  round(m1 - m0, 6) AS mean_diff FROM w"
    ),
)
def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test on purchase value between the
    two hash-assigned variants, with Welch–Satterthwaite degrees of
    freedom.

    Same scale posture as q_chi2_conversion: sufficient statistics
    (mean, sample variance, count) reduce in one partial-aggregate
    shuffle; the test statistic is arithmetic over a 2-row table
    pivoted to one row.  var_samp has identical semantics in Spark
    and DuckDB, so the oracle is exact to rounding.
    """
    from hls_stac_parquet_spark.queries.registry import finite

    ev = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & finite(F.col("value"))
    )
    g = ev.withColumn("variant", (F.col("user_id") % 2).cast("int")).groupBy(
        "variant"
    ).agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count("*").cast("double").alias("n"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("variant") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("variant") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("variant") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
    )
    se2_1 = F.col("v1") / F.col("n1")
    se2_0 = F.col("v0") / F.col("n0")
    se2 = se2_1 + se2_0
    return w.select(
        F.round((F.col("m1") - F.col("m0")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2 * se2
            / (
                se2_1 * se2_1 / (F.col("n1") - 1)
                + se2_0 * se2_0 / (F.col("n0") - 1)
            ),
            6,
        ).alias("df"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("mean_diff"),
    )


@query(
    "q_market_basket",
    oracle=(
        "WITH od AS ("
        "  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "part_orders AS ("
        "  SELECT l_partkey, CAST(count(*) AS DOUBLE) AS n_orders_part "
        "  FROM od GROUP BY l_partkey), "
        "n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders "
        "  FROM od), "
        "pairs AS ("
        "  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
        "    CAST(count(*) AS DOUBLE) AS n_ab "
        "  FROM od a JOIN od b ON a.l_orderkey = b.l_orderkey "
        "   AND a.l_partkey < b.l_partkey "
        "  GROUP BY part_a, part_b) "
        "SELECT p.part_a, p.part_b, CAST(p.n_ab AS BIGINT) AS n_together, "
        "  round(p.n_ab * n.n_orders / (pa.n_orders_part * pb.n_orders_part), 6) "
        "    AS lift "
        "FROM pairs p, n "
        "JOIN part_orders pa ON pa.l_partkey = p.part_a "
        "JOIN part_orders pb ON pb.l_partkey = p.part_b "
        "WHERE p.n_ab >= 2 "
        "ORDER BY n_together DESC, lift DESC, part_a, part_b LIMIT 20"
    ),
)
def q_market_basket(spark, sf_dir):
    """Market-basket pair mining with lift: part pairs that co-occur
    in ≥2 orders, ranked by co-occurrence then lift.

    The pair generation is a self-join BLOCKED BY ORDER KEY — baskets
    are small (TPC-H ~4 lines/order), so the join output is
    Σ|basket|² ≈ 4·|lineitem|, linear in practice, co-partitioned on
    l_orderkey (one shuffle each side, no broadcast of the fact
    table).  Per-part support is a second small aggregate joined back
    — AQE broadcasts it while the part dimension is small and falls
    back to shuffle join when it isn't.  The n_ab ≥ 2 support
    threshold is the standard a-priori prune that keeps the ranked
    output bounded at scale.
    """
    # materialized: od feeds support dim + scalar total + pair join
    # — three consumers, one materialization instead of three
    # distincts. (r8: re-materializing the checkpoint at full 32-way
    # width was A/B-tested and REJECTED — the 5-partition layout AQE
    # picks reads back with ~10x less task time than 32 spread
    # partitions on this host; see OPTIMIZATION_r08.md.)
    od = materialize(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_orders = od.groupBy("l_partkey").agg(
        F.count("*").cast("double").alias("n_orders_part")
    )
    # scalar total as a broadcast 1-row dim — keeps the whole query one
    # lazy plan (no eager driver-side count job at build time)
    n_orders = od.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders")
    )
    from hls_stac_parquet_spark.operators.lsh import self_join_pairs

    pairs = (
        self_join_pairs(od, ["l_orderkey"], "l_partkey")
        .groupBy(
            F.col("id_a").alias("part_a"), F.col("id_b").alias("part_b")
        )
        .agg(F.count("*").cast("double").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    pa = part_orders.select(
        F.col("l_partkey").alias("part_a"),
        F.col("n_orders_part").alias("na"),
    )
    pb = part_orders.select(
        F.col("l_partkey").alias("part_b"),
        F.col("n_orders_part").alias("nb"),
    )
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_together"),
            F.round(
                F.col("n_ab") * F.col("n_orders") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("n_together"), F.desc("lift"), "part_a", "part_b"
        )
        .limit(20)
    )


@query(
    "q_geo_knn",
    oracle=(
        "WITH cust AS ("
        "  SELECT c_custkey, "
        "    CAST((c_custkey * 9301 + 49297) % 18000 AS DOUBLE)/100 - 90 AS lat, "
        "    CAST((c_custkey * 7919 + 104729) % 36000 AS DOUBLE)/100 - 180 AS lon "
        "  FROM customer WHERE c_custkey % 10 = 0), "
        "supp AS ("
        "  SELECT s_suppkey, "
        "    CAST((s_suppkey * 9301 + 49297) % 18000 AS DOUBLE)/100 - 90 AS lat, "
        "    CAST((s_suppkey * 7919 + 104729) % 36000 AS DOUBLE)/100 - 180 AS lon "
        "  FROM supplier), "
        "dists AS ("
        "  SELECT c.c_custkey, s.s_suppkey, "
        "    round(2 * 6371.0088 * asin(sqrt("
        "      sin(radians(s.lat - c.lat)/2) * sin(radians(s.lat - c.lat)/2) "
        "      + cos(radians(c.lat)) * cos(radians(s.lat)) "
        "      * sin(radians(s.lon - c.lon)/2) * sin(radians(s.lon - c.lon)/2)"
        "    )), 3) AS dist_km "
        "  FROM cust c, supp s), "
        "ranked AS ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rnk "
        "  FROM dists) "
        "SELECT c_custkey, s_suppkey, dist_km, CAST(rnk AS INT) AS rnk "
        "FROM ranked WHERE rnk <= 3"
    ),
)
def q_geo_knn(spark, sf_dir):
    """Haversine 3-nearest-suppliers per customer over synthetic
    deterministic coordinates (integer LCG on the keys, identical in
    both engines) — the station-assignment / tile-matching shape the
    reference's MGRS→lat/lon path feeds
    (/root/reference/src/hls_stac_parquet/write.py:37-88).

    The reference set (suppliers) is a small dimension, so the
    scale-right plan is a BROADCAST nearest-neighbor join: fact side
    streams, per-customer top-3 is a window over ≤|supp| candidate
    rows, shuffled once on c_custkey.  For large×large spatial joins
    the engine's grid-blocked interval join (operators/intervals.py)
    is the declared path; distances round to 3 decimals before
    ranking so the rank cut is float-stable across engines
    (tie-broken by supplier key).
    """
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            (((F.col("c_custkey") * 9301 + 49297) % 18000).cast("double") / 100 - 90).alias("clat"),
            (((F.col("c_custkey") * 7919 + 104729) % 36000).cast("double") / 100 - 180).alias("clon"),
        )
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 9301 + 49297) % 18000).cast("double") / 100 - 90).alias("slat"),
        (((F.col("s_suppkey") * 7919 + 104729) % 36000).cast("double") / 100 - 180).alias("slon"),
    )
    dlat = F.radians(F.col("slat") - F.col("clat")) / 2
    dlon = F.radians(F.col("slon") - F.col("clon")) / 2
    hav = F.sin(dlat) * F.sin(dlat) + F.cos(F.radians("clat")) * F.cos(
        F.radians("slat")
    ) * F.sin(dlon) * F.sin(dlon)
    from hls_stac_parquet_spark.tuning import guarded_broadcast, parallelize_for_udf

    # spread the fact side before the broadcast fan-out: the compact
    # single-file scan is ONE partition, so |cust|×|supp| haversines
    # and the per-customer top-3 ran on one task (profiled 1.9 s
    # single-task stage at sf0.1; guide §2.5 input skew). The window's
    # WindowGroupLimit keeps the post-join exchange tiny either way.
    # No-op on any multi-file scan.
    cust = parallelize_for_udf(cust)
    dists = cust.join(
        guarded_broadcast(
            supp,
            max_rows=5_000_000,
            alternative="operators.intervals grid-blocked join",
        )
    ).select(
        "c_custkey",
        "s_suppkey",
        F.round(2 * 6371.0088 * F.asin(F.sqrt(hav)), 3).alias("dist_km"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    return (
        dists.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "q_time_to_convert",
    oracle=(
        "WITH per_user AS ("
        "  SELECT user_id, "
        "    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view, "
        "    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase "
        "  FROM events GROUP BY user_id), "
        "conv AS ("
        "  SELECT user_id, "
        "    CAST(floor(date_diff('microsecond', first_view, first_purchase) "
        "         / 1000000.0) AS BIGINT) AS secs "
        "  FROM per_user "
        "  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL "
        "    AND first_purchase > first_view) "
        "SELECT CAST(count(*) AS BIGINT) AS n_converted, "
        "  round(avg(secs), 4) AS avg_secs, "
        "  round(median(secs), 4) AS median_secs, "
        "  CAST(min(secs) AS BIGINT) AS min_secs, "
        "  CAST(max(secs) AS BIGINT) AS max_secs "
        "FROM conv"
    ),
)
def q_time_to_convert(spark, sf_dir):
    """View→purchase conversion latency: per user, seconds between
    first view and first purchase (when the purchase follows), then
    count/avg/median/min/max across converters.

    One user-keyed conditional-min aggregate collapses the event log;
    the latency distribution summary (including the exact
    interpolated median, identical semantics in Spark and DuckDB)
    runs over the per-user table.  This is the funnel-latency
    companion to q_funnel: same single-shuffle posture.
    """
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    conv = per_user.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_view"))
    ).select(
        # floor of the µs-exact delta — DuckDB's date_diff('second')
        # counts boundary CROSSINGS, Spark's timestampdiff(SECOND)
        # floors; µs diff + explicit floor is identical in both.
        F.floor(
            F.expr("timestampdiff(MICROSECOND, first_view, first_purchase)")
            / 1000000.0
        ).cast("bigint").alias("secs")
    )
    return conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.avg("secs"), 4).alias("avg_secs"),
        F.round(F.median("secs"), 4).alias("median_secs"),
        F.min("secs").cast("bigint").alias("min_secs"),
        F.max("secs").cast("bigint").alias("max_secs"),
    )


@query(
    "q_linreg_by_group",
    oracle=(
        "WITH x AS ("
        "  SELECT event_type, value, "
        "    date_diff('microsecond', TIMESTAMP '1970-01-01', ts) "
        "      / 86400000000.0 AS day_x "
        "  FROM events WHERE isfinite(value)) "
        "SELECT event_type, "
        "  CAST(regr_count(value, day_x) AS BIGINT) AS n, "
        "  round(regr_slope(value, day_x), 6) AS slope_per_day, "
        "  round(regr_intercept(value, day_x), 4) AS intercept, "
        "  round(regr_r2(value, day_x), 6) AS r2 "
        "FROM x GROUP BY event_type"
    ),
)
def q_linreg_by_group(spark, sf_dir):
    """Per-event-type OLS trend of value over time (slope/day,
    intercept, R²) via the built-in regression aggregates — drift
    detection as one grouped aggregate.

    regr_slope/intercept/r2 reduce to sufficient statistics (Σx, Σy,
    Σxy, Σx², n) with map-side partial aggregation, so the whole
    regression is ONE shuffle of 5 doubles per group — the textbook
    scale shape for fitting millions of per-key models.  x is days
    since epoch derived from the µs-exact NTZ delta (identical
    arithmetic in DuckDB), keeping slopes in a round-stable range.
    """
    from hls_stac_parquet_spark.queries.registry import finite

    ev = t(spark, sf_dir, "events").filter(finite(F.col("value")))
    x = ev.select(
        "event_type",
        "value",
        (
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
            / 86400000000.0
        ).alias("day_x"),
    )
    return x.groupBy("event_type").agg(
        F.expr("regr_count(value, day_x)").cast("bigint").alias("n"),
        F.round(F.expr("regr_slope(value, day_x)"), 6).alias("slope_per_day"),
        F.round(F.expr("regr_intercept(value, day_x)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(value, day_x)"), 6).alias("r2"),
    )


@query(
    "q_snapshot_diff",
    oracle=(
        "WITH va AS ("
        "  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
        "  WHERE o_orderkey % 100 != 0), "
        "vb AS ("
        "  SELECT o_orderkey, o_orderstatus, "
        "    CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 1.1, 2) "
        "         ELSE o_totalprice END AS o_totalprice "
        "  FROM orders), "
        "j AS ("
        "  SELECT coalesce(va.o_orderkey, vb.o_orderkey) AS o_orderkey, "
        "    CASE WHEN va.o_orderkey IS NULL THEN 'added' "
        "         WHEN vb.o_orderkey IS NULL THEN 'removed' "
        "         WHEN va.o_orderstatus IS DISTINCT FROM vb.o_orderstatus "
        "           OR va.o_totalprice IS DISTINCT FROM vb.o_totalprice "
        "           THEN 'changed' "
        "         ELSE 'unchanged' END AS status "
        "  FROM va FULL OUTER JOIN vb ON va.o_orderkey = vb.o_orderkey) "
        "SELECT status, count(*) AS n, "
        "  CAST(min(o_orderkey) AS BIGINT) AS min_key, "
        "  CAST(max(o_orderkey) AS BIGINT) AS max_key "
        "FROM j GROUP BY status"
    ),
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff between two table versions (the CDC audit every
    warehouse runs after a load): full outer join on the key classifies
    every row added / removed / changed / unchanged, then a tiny status
    rollup.

    The versions here are derived deterministically from orders (A
    drops every 100th key, B re-prices every 7th) so the oracle builds
    the identical pair.  Change detection is null-safe column compare
    (IS DISTINCT FROM) — at width, swap in a single xxhash64 over the
    non-key columns so only (key, row-hash) shuffles through the join;
    the join itself is key-partitioned on both sides, AQE handles the
    version-size asymmetry.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    va = o.filter(F.col("o_orderkey") % 100 != 0)
    vb = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    from hls_stac_parquet_spark.operators.diff import snapshot_diff

    return (
        snapshot_diff(va, vb, ["o_orderkey"])
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


@query(
    "q_dedup_time_window",
    oracle=(
        "WITH lagged AS ("
        "  SELECT event_id, user_id, event_type, ts, "
        "    lag(ts) OVER (PARTITION BY user_id, event_type "
        "                  ORDER BY ts, event_id) AS prev_ts "
        "  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL) "
        "SELECT event_id, user_id, event_type, ts FROM lagged "
        "WHERE prev_ts IS NULL "
        "   OR date_diff('microsecond', prev_ts, ts) > 3600000000"
    ),
)
def q_dedup_time_window(spark, sf_dir):
    """Time-windowed log dedup: within each (user, event_type) stream,
    drop events that repeat within one hour of the previous kept...
    precisely, of the previous EVENT (lag-based throttle — the
    standard O(1)-state formulation used for at-least-once delivery
    logs; a strict anchor-based throttle needs a session scan and is
    what streaming/dropDuplicatesWithinWatermark provides).

    One keyed window (shuffle on user+type), µs-exact gap compare —
    identical semantics in the DuckDB oracle.  State per row is a
    single timestamp regardless of partition size.

    NULL semantics declared on BOTH engines: an event with no
    timestamp or no user key cannot be time-throttled and is excluded
    (round-6 key-fuzz sweep).
    """
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    return lagged.filter(
        F.col("prev_ts").isNull() | (gap_us > 3600000000)
    ).select("event_id", "user_id", "event_type", "ts")


@query(
    "q_mom_growth",
    oracle=(
        "WITH m AS ("
        "  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, "
        "    round(sum(o_totalprice), 2) AS revenue "
        "  FROM orders GROUP BY month) "
        "SELECT month, revenue, "
        "  round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month)) "
        "        / lag(revenue) OVER (ORDER BY month), 4) AS pct_change "
        "FROM m"
    ),
)
def q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth — the reporting staple: one
    month-keyed aggregate (partial map-side sums), then lag/pct-change
    over the months-sized result where the single-partition window is
    free.  DuckDB's date_trunc returns DATE; the oracle casts to
    TIMESTAMP to match Spark's date_trunc month semantics.
    """
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.withColumn(
        "pct_change",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4),
    )


@query(
    "q_new_vs_returning",
    oracle=(
        "WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL), "
        "first_seen AS ("
        "  SELECT user_id, min(CAST(ts AS DATE)) AS first_day "
        "  FROM ev GROUP BY user_id), "
        "daily AS ("
        "  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev) "
        "SELECT d.day, "
        "  CAST(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS new_users, "
        "  CAST(sum(CASE WHEN f.first_day < d.day THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS returning_users "
        "FROM daily d JOIN first_seen f USING (user_id) GROUP BY d.day"
    ),
)
def q_new_vs_returning(spark, sf_dir):
    """Daily active users split new vs returning — the growth-
    accounting companion to q_cumulative_distinct.

    Two aggregates off one scan (per-user first day; distinct
    user-days), joined on user_id — the first-seen dim is |users|-
    sized, so AQE broadcasts it while it fits and shuffle-joins
    beyond; the day rollup then runs over |user-days|.  No expanding
    windows, no per-day rescans.  NULL-ts events belong to no day and
    are excluded on BOTH engines (round-6 key-fuzz discipline).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    return (
        daily.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            ).cast("bigint").alias("new_users"),
            F.sum(
                F.when(F.col("first_day") < F.col("day"), 1).otherwise(0)
            ).cast("bigint").alias("returning_users"),
        )
    )


@query(
    "q_stickiness",
    oracle=(
        "WITH du AS ("
        "  SELECT DISTINCT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month, "
        "    CAST(ts AS DATE) AS day, user_id FROM events "
        "  WHERE ts IS NOT NULL), "
        "dau AS ("
        "  SELECT month, day, count(*) AS dau FROM du GROUP BY month, day), "
        "mau AS ("
        "  SELECT month, count(DISTINCT user_id) AS mau FROM du GROUP BY month) "
        "SELECT d.month, round(avg(d.dau), 4) AS avg_dau, "
        "  CAST(max(m.mau) AS BIGINT) AS mau, "
        "  round(avg(d.dau) / max(m.mau), 6) AS stickiness "
        "FROM dau d JOIN mau m USING (month) GROUP BY d.month"
    ),
)
def q_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per month — the engagement ratio every
    product dashboard tracks.

    Single pass: one distinct (month, day, user) reduction (the only
    event-scale shuffle), then ONE month aggregate computes all three
    sufficient statistics — |user-days| (plain count), distinct days,
    distinct users (Spark plans the two distincts as one Expand over
    the reduction, still a single scan).  avg_dau ≡ user_days /
    n_days because Σ_days dau = |user-days|; a two-branch dau⋈mau
    formulation re-scans and re-distincts the fact table per branch
    (column pruning makes the subtrees non-identical, so AQE cannot
    reuse the exchange — measured, 4 scans).

    NULL-ts events belong to no month and are excluded on BOTH
    engines (a NULL month group has n_days = 0, which was an ANSI
    divide-by-zero on Spark — round-6 key-fuzz sweep).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    du = ev.select(
        F.date_trunc("month", "ts").alias("month"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    m = du.groupBy("month").agg(
        F.count("*").alias("user_days"),
        F.count_distinct("day").alias("n_days"),
        F.count_distinct("user_id").alias("mau"),
    )
    avg_dau = F.col("user_days") / F.col("n_days")
    return m.select(
        "month",
        F.round(avg_dau, 4).alias("avg_dau"),
        F.col("mau").cast("bigint").alias("mau"),
        F.round(avg_dau / F.col("mau"), 6).alias("stickiness"),
    )


@query(
    "q_churn",
    oracle=(
        "WITH mu AS ("
        "  SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, "
        "    user_id FROM events WHERE ts IS NOT NULL), "
        "weeks AS (SELECT DISTINCT week FROM mu), "
        "nxt AS ("
        "  SELECT week, lead(week) OVER (ORDER BY week) AS next_week "
        "  FROM weeks) "
        "SELECT mu.week, CAST(count(*) AS BIGINT) AS active_users, "
        "  CAST(sum(CASE WHEN r.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS churned, "
        "  round(avg(CASE WHEN r.user_id IS NULL THEN 1.0 ELSE 0.0 END), 6) "
        "    AS churn_rate "
        "FROM mu JOIN nxt USING (week) "
        "LEFT JOIN mu r ON r.week = nxt.next_week AND r.user_id = mu.user_id "
        "WHERE nxt.next_week IS NOT NULL "
        "GROUP BY mu.week"
    ),
)
def q_churn(spark, sf_dir):
    """Weekly churn: of each week's active users, how many are absent
    the following observed week (weekly because the synthetic event
    log spans one calendar month; the shape is grain-agnostic).

    One distinct (week, user) reduction off the scan; the weeks dim
    (lead over a handful of rows) broadcasts back, and the presence
    probe is a LEFT join of week-actives against next-week-actives on
    (next_week, user) — both sides are the same |week-actives| table,
    hash-partitioned on user, so the probe is one co-keyed shuffle,
    not a per-week rescan.  NULL-ts events belong to no week and are
    excluded on BOTH engines (round-6 key-fuzz discipline: the weeks
    dim's lead() window must never order a NULL key).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    mu = ev.select(
        F.date_trunc("week", "ts").alias("week"), "user_id"
    ).distinct()
    weeks = mu.select("week").distinct()
    wm = Window.orderBy("week")
    nxt = weeks.withColumn("next_week", F.lead("week").over(wm)).filter(
        F.col("next_week").isNotNull()
    )
    cur = mu.join(F.broadcast(nxt), "week")
    r = mu.select(
        F.col("week").alias("next_week"), F.col("user_id").alias("r_user")
    )
    probe = cur.join(
        r,
        (cur.next_week == r.next_week) & (cur.user_id == F.col("r_user")),
        "left",
    )
    return probe.groupBy(cur.week).agg(
        F.count("*").cast("bigint").alias("active_users"),
        F.sum(F.when(F.col("r_user").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("churned"),
        F.round(
            F.avg(F.when(F.col("r_user").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("churn_rate"),
    )


@query(
    "q_rolling_corr",
    oracle=(
        "WITH daily AS ("
        "  SELECT CAST(ts AS DATE) AS day, "
        "    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) "
        "      AS DOUBLE) AS n_views, "
        "    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "      AS DOUBLE) AS n_purchases "
        "  FROM events WHERE ts IS NOT NULL GROUP BY day) "
        "SELECT day, CAST(n_views AS BIGINT) AS n_views, "
        "  CAST(n_purchases AS BIGINT) AS n_purchases, "
        "  round(corr(n_views, n_purchases) OVER ("
        "    ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) "
        "    AS corr7 "
        "FROM daily"
    ),
)
def q_rolling_corr(spark, sf_dir):
    """Trailing-7-day rolling correlation between daily view and
    purchase volumes — the co-movement diagnostic for metric pairs
    (did the funnel decouple this week?).

    One day-keyed aggregate is the only event-scale shuffle; the
    windowed corr runs over the days-sized series where the bounded
    frame costs O(1) state per row.  corr interpolates identically in
    both engines and yields NULL for frames with <2 points or zero
    variance on either side — no special-casing needed.  NULL-ts
    events belong to no day and are excluded on BOTH engines (round-6
    key-fuzz sweep).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("n_views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("n_purchases"),
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.col("n_views").cast("bigint").alias("n_views"),
        F.col("n_purchases").cast("bigint").alias("n_purchases"),
        F.round(F.corr("n_views", "n_purchases").over(w), 6).alias("corr7"),
    )


@query(
    "q_weighted_median",
    oracle=(
        "WITH w AS ("
        "  SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt "
        "  FROM lineitem), "
        "ranked AS ("
        "  SELECT l_returnflag, v, wt, "
        "    sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v, wt "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, "
        "    sum(wt) OVER (PARTITION BY l_returnflag) AS tw "
        "  FROM w) "
        "SELECT l_returnflag, round(min(v), 2) AS weighted_median "
        "FROM ranked WHERE cw >= tw / 2 GROUP BY l_returnflag"
    ),
)
def q_weighted_median(spark, sf_dir):
    """Weighted median per group (price weighted by quantity) — the
    robust center for importance-weighted corpora (sample weights,
    token counts), where the plain median over-counts light rows.

    Lower weighted median: smallest v whose cumulative weight reaches
    half the total.  One per-group sort window carries the running
    weight (same single-shuffle shape as q_trimmed_mean); the
    selection is a filter + min over the qualifying suffix.  The
    (v, wt) tie-broken cumulative order is identical in both engines,
    and the boundary is weight arithmetic, not position arithmetic —
    no interpolation ambiguity.
    """
    from hls_stac_parquet_spark.operators.quantiles import (
        grouped_weighted_median,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("wt"),
    )
    # r9 (guide §2, skew): 3 return flags meant the cumulative-weight
    # window funneled the whole fact table through 3 tasks; the kernel
    # auto-dispatches to a range-partitioned crossing-cell tier above
    # the size threshold (hash tier below it — plan unchanged at
    # bench scale, identical results either way).
    med = grouped_weighted_median(li, ["l_returnflag"], "v", "wt")
    return med.select(
        "l_returnflag",
        F.round("weighted_median", 2).alias("weighted_median"),
    )


@query(
    "q_auc",
    oracle=(
        "WITH scored AS ("
        "  SELECT value AS score, "
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label "
        "  FROM events WHERE event_type IN ('purchase', 'view') "
        "    AND isfinite(value)), "
        "ranked AS ("
        "  SELECT label, avg(rn) OVER (PARTITION BY score) AS avg_rank "
        "  FROM (SELECT score, label, row_number() OVER (ORDER BY score) AS rn "
        "        FROM scored)), "
        "agg AS ("
        "  SELECT CAST(sum(label) AS DOUBLE) AS n_pos, "
        "    CAST(count(*) - sum(label) AS DOUBLE) AS n_neg, "
        "    sum(CASE WHEN label = 1 THEN avg_rank ELSE 0 END) AS pos_rank_sum "
        "  FROM ranked) "
        "SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, "
        "  round((pos_rank_sum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg), 6) "
        "    AS auc FROM agg"
    ),
)
def q_auc(spark, sf_dir):
    """Exact ROC-AUC of `value` as a purchase-vs-view discriminator
    via the rank-sum (Mann–Whitney U) identity — the model-evaluation
    aggregate, tie-corrected with average ranks.

    AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻).  Global ranks are
    assigned SCALABLY — an unpartitioned row_number window would
    funnel every row through one partition, so instead: range-
    partition by score, rank locally within each range partition,
    and add broadcast per-partition offsets (prefix sums over the
    #partitions-sized count dim).  Equal scores land in one range
    partition (range boundaries compare by value), so per-score
    average ranks — the tie correction — come from a score-keyed
    aggregate, and the statistic reduces in one pass.  No pairwise
    comparisons — the naive O(n⁺·n⁻) definition is the oracle
    semantics, not the plan.
    """
    scored = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        # NULL and non-finite scores are excluded, not silently
        # ranked: Spark's default NULLS FIRST vs the oracle's NULLS
        # LAST would otherwise diverge, and an AUC over unscored or
        # NaN/Inf rows is ill-defined anyway (declared dirty-float
        # semantic, tests/test_nan_fuzz.py)
        .filter(_finite(F.col("value")))
        .select(
            F.col("value").alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "label"
            ),
        )
    )
    from hls_stac_parquet_spark.operators.ranking import with_global_rank

    # checkpoint=False: the input is a scan-side filter+projection —
    # re-scanning parquet for the range-boundary sample costs less
    # than the eager materialization barrier (r8; the query is
    # job-latency-bound, <0.5 s task time across 13 jobs profiled)
    ranked = with_global_rank(scored, [F.col("score")], "rn", checkpoint=False)
    per_score = ranked.groupBy("score").agg(
        F.avg("rn").alias("avg_rank"),
        F.sum("label").alias("pos_s"),
        F.count("*").alias("n_s"),
    )
    n_pos = F.sum("pos_s")
    n_neg = F.sum(F.col("n_s") - F.col("pos_s"))
    return per_score.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.round(
            (F.sum(F.col("pos_s") * F.col("avg_rank")) - n_pos * (n_pos + 1) / 2)
            / (n_pos * n_neg),
            6,
        ).alias("auc"),
    )


@query(
    "q_calibration_bins",
    oracle=(
        "WITH scored AS ("
        "  SELECT value / (SELECT max(value) FROM events "
        "    WHERE event_type IN ('purchase', 'view') AND isfinite(value)) AS p, "
        "    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y "
        "  FROM events WHERE event_type IN ('purchase', 'view') "
        "    AND isfinite(value)) "
        "SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, "
        "  CAST(count(*) AS BIGINT) AS n, "
        "  round(avg(p), 6) AS mean_pred, "
        "  round(avg(y), 6) AS frac_positive "
        "FROM scored GROUP BY bin"
    ),
)
def q_calibration_bins(spark, sf_dir):
    """Calibration / reliability bins: decile-bucketed predicted
    score vs observed positive rate — the companion diagnostic to
    q_auc (a model can rank well and still be miscalibrated).

    The score normalizer is a broadcast 1-row aggregate; binning is a
    row-local expression, so the whole diagnostic is one grouped
    aggregate over the scan with a 10-row output.  least(…, 9) pins
    p = 1.0 into the top bin identically in both engines.
    """
    from hls_stac_parquet_spark.queries.registry import finite

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view") & finite(F.col("value"))
    )
    mx = ev.agg(F.max("value").alias("_mx"))
    scored = ev.join(F.broadcast(mx)).select(
        (F.col("value") / F.col("_mx")).alias("p"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("p"), 6).alias("mean_pred"),
            F.round(F.avg("y"), 6).alias("frac_positive"),
        )
    )


@query(
    "q_isotonic_calibration",
    oracle=(
        "WITH scored AS ("
        "  SELECT value / (SELECT max(value) FROM events "
        "    WHERE event_type IN ('purchase', 'view') AND isfinite(value)) AS p, "
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "  FROM events WHERE event_type IN ('purchase', 'view') "
        "    AND isfinite(value)), "
        "b AS (SELECT CAST(least(floor(p * 50), 49) AS INT) AS bin, "
        "  count(*) AS w, sum(y) AS wy, avg(p) AS mp FROM scored GROUP BY bin), "
        "o AS (SELECT *, row_number() OVER (ORDER BY bin) AS i FROM b), "
        "pre AS (SELECT *, sum(w) OVER (ORDER BY i) AS cw, "
        "  sum(wy) OVER (ORDER BY i) AS cwy FROM o), "
        # every contiguous bucket interval [j..k] with its exact mean:
        # integer sums ratio'd in double — bit-identical to PAVA's
        # pooled block value
        "iv AS (SELECT a.i AS j, c.i AS k, "
        "  CAST(c.cwy - a.cwy + a.wy AS DOUBLE) / (c.cw - a.cw + a.w) AS avgv "
        "  FROM pre a JOIN pre c ON a.i <= c.i), "
        "im AS (SELECT v.j, o2.i AS i, min(v.avgv) AS mn "
        "  FROM iv v JOIN o o2 ON o2.i BETWEEN v.j AND v.k GROUP BY v.j, o2.i), "
        "fit AS (SELECT i, max(mn) AS yhat FROM im GROUP BY i) "
        "SELECT o.bin, CAST(o.w AS BIGINT) AS n, round(o.mp, 6) AS mean_pred, "
        "  round(f.yhat, 6) AS y_fit "
        "FROM o JOIN fit f USING (i)"
    ),
)
def q_isotonic_calibration(spark, sf_dir):
    """Isotonic calibration curve (weighted PAVA) — the
    shape-constrained upgrade of q_calibration_bins: fit the
    least-squares NON-DECREASING map from predicted score to observed
    positive rate over 50 score buckets (operators/mlfit.py::
    isotonic_fit), the standard post-hoc calibrator applied to
    quality-classifier scores before they gate training data.

    Scale shape: the 100 TB fact scan collapses in ONE grouped
    aggregate to ≤50 integer sufficient-statistic rows (Σy, Σ1 per
    bucket — y ∈ {0,1}, so every pooled block mean is an exact
    int/int division, float-compare-free on both engines); the PAVA
    stack runs inside a single applyInPandas group on an executor —
    no driver collect, no per-block job.

    ORACLE INDEPENDENCE: the DuckDB twin does NOT replay PAVA — it
    evaluates the minimax identity ŷᵢ = max_{j≤i} min_{k≥i}
    avg(y[j..k]) over all O(bins²) contiguous intervals (Robertson,
    Wright & Dykstra 1988, Thm 1.4.4). Two different algorithms, one
    exact-arithmetic answer: agreement is evidence, not echo."""
    from hls_stac_parquet_spark.operators.mlfit import isotonic_fit

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view") & _finite(F.col("value"))
    )
    mx = ev.agg(F.max("value").alias("_mx"))
    scored = ev.join(F.broadcast(mx)).select(
        (F.col("value") / F.col("_mx")).alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("p") * 50), F.lit(49)).cast("int").alias("bin")
    ).agg(
        F.count("*").alias("w"),
        F.sum("y").alias("wy"),
        F.avg("p").alias("mp"),
    )
    return isotonic_fit(bins, "bin", "wy", "w").select(
        "bin",
        F.col("w").cast("bigint").alias("n"),
        F.round("mp", 6).alias("mean_pred"),
        F.round("y_fit", 6).alias("y_fit"),
    )


@query(
    "q_outlier_iqr",
    oracle=(
        "WITH fences AS ("
        "  SELECT l_returnflag, "
        "    quantile_cont(l_extendedprice, 0.25) AS q1, "
        "    quantile_cont(l_extendedprice, 0.75) AS q3 "
        "  FROM lineitem GROUP BY l_returnflag) "
        "SELECT l.l_returnflag, "
        "  round(f.q1, 4) AS q1, round(f.q3, 4) AS q3, "
        "  CAST(count(*) FILTER (WHERE l.l_extendedprice "
        "    > f.q3 + 1.5 * (f.q3 - f.q1)) AS BIGINT) AS n_high, "
        "  CAST(count(*) FILTER (WHERE l.l_extendedprice "
        "    < f.q1 - 1.5 * (f.q3 - f.q1)) AS BIGINT) AS n_low "
        "FROM lineitem l JOIN fences f USING (l_returnflag) "
        "GROUP BY l.l_returnflag, f.q1, f.q3"
    ),
)
def q_outlier_iqr(spark, sf_dir):
    """Tukey IQR-fence outlier report per group — the standard robust
    anomaly screen (z-scores break under heavy tails; quartile fences
    don't). One grouped exact-quantile aggregate produces the ~|groups|
    fence dim, broadcast back onto the fact scan for a single
    conditional-count pass — the fact table never shuffles twice, and
    the fence dim is groups-sized regardless of fact cardinality.
    Spark `percentile` ≡ DuckDB `quantile_cont` (both exact
    interpolated)."""
    from hls_stac_parquet_spark.operators.quantiles import grouped_quantiles

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    fences = grouped_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.25, 0.75], ["_q1", "_q3"]
    )
    iqr = F.col("_q3") - F.col("_q1")
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.first("_q1"), 4).alias("q1"),
            F.round(F.first("_q3"), 4).alias("q3"),
            F.count_if(
                F.col("l_extendedprice") > F.col("_q3") + 1.5 * iqr
            ).cast("bigint").alias("n_high"),
            F.count_if(
                F.col("l_extendedprice") < F.col("_q1") - 1.5 * iqr
            ).cast("bigint").alias("n_low"),
        )
    )


@query(
    "q_decayed_counts",
    oracle=(
        "WITH mx AS (SELECT max(ts) AS mts FROM events) "
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "  round(sum(exp(-0.05 * (epoch_us(mts) - epoch_us(ts)) "
        "    / 86400000000.0)), 4) AS decayed_count "
        "FROM events, mx GROUP BY event_type"
    ),
)
def q_decayed_counts(spark, sf_dir):
    """Exponentially time-decayed event counts per type (half-life
    ≈ 14 days at λ=0.05/day) — the freshness-weighted popularity
    aggregate used for trending/ranking features. The decay reduces
    map-side (exp of the µs-exact age), so the shuffle carries one
    partial sum per (partition, type): fact rows never move. The
    reference timestamp is a broadcast 1-row max dim."""
    ev = t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("_mts"))
    age_days = (
        F.expr("timestampdiff(MICROSECOND, ts, _mts)").cast("double")
        / 86400000000.0
    )
    return (
        ev.join(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.exp(-0.05 * age_days)), 4).alias("decayed_count"),
        )
    )


@query(
    "q_cdc_apply",
    oracle=(
        "WITH ops AS ("
        "  SELECT user_id, ts, event_id, value, "
        "    CASE event_type WHEN 'signup' THEN 'I' "
        "      WHEN 'purchase' THEN 'U' ELSE 'D' END AS op "
        "  FROM events WHERE event_type IN ('signup', 'purchase', 'error') "
        "    AND ts IS NOT NULL AND user_id IS NOT NULL), "
        "latest AS ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
        "  FROM ops) "
        "SELECT user_id, op AS final_op, ts AS op_ts, "
        "  round(value, 4) AS final_value "
        "FROM latest WHERE rn = 1 AND op <> 'D'"
    ),
)
def q_cdc_apply(spark, sf_dir):
    """Apply a change-log to produce final table state — the CDC
    materialization semantic: signup=insert, purchase=update,
    error=delete; the LAST op per key wins and a trailing delete
    removes the key entirely (generalizes q_keep_latest, which has no
    delete semantics). ONE user-keyed window; ordering ties break on
    event_id so replay is deterministic. At 100 TB this is the
    standard log-compaction shape: one shuffle on the key, O(1) state
    per row."""
    ops = (
        t(spark, sf_dir, "events")
        # NULL ts / user_id ops can't be replayed in order — excluded
        # on BOTH engines (round-6 key-fuzz discipline)
        .filter(
            F.col("event_type").isin("signup", "purchase", "error")
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "purchase", "U")
            .otherwise("D")
            .alias("op"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("final_op"),
            F.col("ts").alias("op_ts"),
            F.round("value", 4).alias("final_value"),
        )
    )


@query(
    "q_quantile_bins",
    oracle=(
        "WITH bounds AS ("
        "  SELECT l_returnflag, "
        "    [quantile_cont(l_extendedprice, 0.25), "
        "     quantile_cont(l_extendedprice, 0.50), "
        "     quantile_cont(l_extendedprice, 0.75)] AS bs "
        "  FROM lineitem GROUP BY l_returnflag) "
        "SELECT l.l_returnflag, "
        "  CAST(len(list_filter(b.bs, x -> x < l.l_extendedprice)) AS INT) "
        "    AS bin, "
        "  CAST(count(*) AS BIGINT) AS n, "
        "  round(avg(l.l_extendedprice), 4) AS mean_in_bin "
        "FROM lineitem l JOIN bounds b USING (l_returnflag) "
        "GROUP BY 1, 2"
    ),
)
def q_quantile_bins(spark, sf_dir):
    """Quantile discretization (feature binning): per-group quartile
    boundaries computed ONCE on the aggregate, broadcast back, and
    each row assigned bin = #boundaries strictly below its value —
    the split-then-assign shape that scales where per-row ntile
    windows (a full sort of the fact table per feature) do not. The
    same plan serves any bin count and any pre-trained boundary set
    (e.g. t-digest output at 100 TB; exact percentile here so DuckDB
    replays it bit-for-bit)."""
    from hls_stac_parquet_spark.operators.quantiles import grouped_quantiles

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    bounds = grouped_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        [0.25, 0.50, 0.75], ["_b1", "_b2", "_b3"],
    ).select(
        "l_returnflag", F.array("_b1", "_b2", "_b3").alias("bs")
    )
    binned = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        F.size(
            F.filter("bs", lambda x: x < F.col("l_extendedprice"))
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("l_extendedprice"), 4).alias("mean_in_bin"),
    )


@query(
    "q_point_in_polygon",
    oracle=(
        "WITH poly AS ("
        "  SELECT n_name, "
        "    (n_nationkey % 5) * 10.0 AS cx, "
        "    (n_nationkey // 5) * 10.0 AS cy, "
        "    CAST(3 + (n_nationkey % 3) AS DOUBLE) AS r "
        "  FROM nation), "
        "pv AS ("
        "  SELECT n_name, "
        "    [cx + 2*r, cx + r, cx - r, cx - 2*r, cx - r, cx + r] AS vx, "
        "    [cy, cy + 2*r, cy + 2*r, cy, cy - 2*r, cy - 2*r] AS vy "
        "  FROM poly), "
        "pts AS ("
        "  SELECT c_custkey, "
        "    (c_custkey * 37 % 500) / 10.0 AS x, "
        "    (c_custkey * 91 % 500) / 10.0 AS y "
        "  FROM customer) "
        "SELECT n_name, CAST(count(*) AS BIGINT) AS n_inside, "
        "  CAST(min(c_custkey) AS BIGINT) AS min_custkey "
        "FROM pv, pts "
        "WHERE list_min(list_transform(range(1, 7), i -> "
        "  (vx[CAST(i % 6 + 1 AS INT)] - vx[i]) * (y - vy[i]) "
        "  - (vy[CAST(i % 6 + 1 AS INT)] - vy[i]) * (x - vx[i]))) >= 0 "
        "GROUP BY n_name"
    ),
)
def q_point_in_polygon(spark, sf_dir):
    """Grid-blocked point-in-polygon spatial join
    (operators/spatialjoin.py) — the polygon-containment primitive
    downstream of the reference's MGRS/bbox/GeoParquet ETL. Nations
    become convex hexagons (integer-exact vertices, CCW), customers
    become deterministic points; polygons explode to the bbox-covered
    grid cells, points hash to ONE cell (so no pair dedup), and the
    containment verify is a codegen'd cross-product HOF — no UDF, no
    geometry lib. The oracle replays the identical IEEE arithmetic on
    the un-blocked quadratic join: blocking must be result-invisible,
    which is exactly the correctness property worth pinning."""
    from hls_stac_parquet_spark.operators.spatialjoin import (
        point_in_polygon_join,
    )

    n = t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") % 5) * 10.0).alias("cx"),
        (F.floor(F.col("n_nationkey") / 5) * 10.0).alias("cy"),
        (3 + (F.col("n_nationkey") % 3)).cast("double").alias("r"),
    )
    cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
    polys = n.select(
        "n_name",
        F.array(cx + 2 * r, cx + r, cx - r, cx - 2 * r, cx - r, cx + r).alias("vx"),
        F.array(cy, cy + 2 * r, cy + 2 * r, cy, cy - 2 * r, cy - 2 * r).alias("vy"),
    )
    pts = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 500) / 10.0).alias("x"),
        ((F.col("c_custkey") * 91 % 500) / 10.0).alias("y"),
    )
    joined = point_in_polygon_join(pts, polys, cell_size=10.0)
    return joined.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_inside"),
        F.min("c_custkey").cast("bigint").alias("min_custkey"),
    )


@query(
    "q_kaplan_meier",
    oracle=(
        "WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL), "
        "obs_end AS (SELECT max(ts) AS mts FROM ev), "
        "starts AS ("
        "  SELECT user_id, min(ts) AS s FROM ev "
        "  WHERE event_type = 'signup' GROUP BY user_id), "
        "deaths AS ("
        "  SELECT e.user_id, min(e.ts) AS d FROM ev e "
        "  JOIN starts st ON e.user_id = st.user_id "
        "  WHERE e.event_type = 'purchase' AND e.ts >= st.s "
        "  GROUP BY e.user_id), "
        "durs AS ("
        "  SELECT st.user_id % 3 AS cohort, "
        "    date_diff('day', CAST(st.s AS DATE), "
        "      CAST(coalesce(d.d, o.mts) AS DATE)) AS dur, "
        "    CASE WHEN d.d IS NULL THEN 0 ELSE 1 END AS died "
        "  FROM starts st LEFT JOIN deaths d ON st.user_id = d.user_id, "
        "    obs_end o), "
        "tab AS ("
        "  SELECT cohort, dur, "
        "    CAST(sum(died) AS BIGINT) AS d, "
        "    CAST(count(*) AS BIGINT) AS removed "
        "  FROM durs GROUP BY cohort, dur), "
        "risk AS ("
        "  SELECT cohort, dur, d, "
        "    CAST(sum(removed) OVER (PARTITION BY cohort ORDER BY dur "
        "      NULLS LAST ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) "
        "      AS BIGINT) AS n "
        "  FROM tab) "
        "SELECT cohort, CAST(dur AS BIGINT) AS dur, d, n, "
        "  round(product(CASE WHEN d > 0 THEN CAST(n - d AS DOUBLE) / n "
        "                ELSE 1.0 END) OVER "
        "    (PARTITION BY cohort ORDER BY dur NULLS LAST "
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) "
        "    AS survival "
        "FROM risk"
    ),
)
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival estimator per cohort — time from signup
    to first purchase, users with no purchase right-censored at the
    end of observation. The workhorse of retention/churn duration
    analysis, and a shape Spark has no builtin for.

    Scale plan: the fact table reduces to ONE user-level duration row
    each (two keyed min-aggregates + a left join), then to a
    (cohort, duration)-level life table — every window after that
    runs over the life table (|distinct durations| rows per cohort),
    never over events. At-risk counts come from a reversed cumulative
    sum (no self-join); the survival product is a cumulative PRODUCT
    of (n-d)/n hazard complements — integer-derived, correctly-rounded
    IEEE divisions folded in dur order, so the oracle replays it with
    no ln/exp libm dependency (a d=n event yields ratio 0 and the
    product absorbs to exact 0.0 thereafter, no special-case flag
    needed). Windows are all cohort-partitioned: no global sort.

    NULL semantics declared on BOTH engines: NULL-timestamped events
    carry no time and are excluded up front (round-5 driver red: a
    user with all-NULL `ts` produced a NULL dur that Spark ordered
    FIRST and DuckDB LAST in the at-risk window). Window orders are
    additionally pinned NULLS LAST on both sides."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    obs_end = ev.agg(F.max("ts").alias("mts"))
    starts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"))
    )
    deaths = (
        ev.filter(F.col("event_type") == "purchase")
        .join(starts, "user_id")
        .filter(F.col("ts") >= F.col("s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("d"))
    )
    durs = (
        starts.join(deaths, "user_id", "left")
        .join(F.broadcast(obs_end))
        .select(
            (F.col("user_id") % 3).alias("cohort"),
            F.datediff(
                F.coalesce("d", "mts").cast("date"), F.col("s").cast("date")
            ).alias("dur"),
            F.col("d").isNotNull().cast("int").alias("died"),
        )
    )
    tab = durs.groupBy("cohort", "dur").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("removed"),
    )
    w_rev = (
        Window.partitionBy("cohort")
        .orderBy(F.col("dur").asc_nulls_last())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy(F.col("dur").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = tab.withColumn("n", F.sum("removed").over(w_rev))
    ratio = F.when(
        F.col("d") > 0,
        (F.col("n") - F.col("d")).cast("double") / F.col("n"),
    ).otherwise(F.lit(1.0))
    return risk.select(
        "cohort",
        F.col("dur").cast("bigint").alias("dur"),
        "d",
        "n",
        F.round(F.product(ratio).over(w_cum), 6).alias("survival"),
    )


@query(
    "q_itemsets_3",
    oracle=(
        "WITH od AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "triples AS ("
        "  SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc, "
        "    CAST(count(*) AS BIGINT) AS support "
        "  FROM od a "
        "  JOIN od b ON b.l_orderkey = a.l_orderkey "
        "   AND b.l_partkey > a.l_partkey "
        "  JOIN od c ON c.l_orderkey = a.l_orderkey "
        "   AND c.l_partkey > b.l_partkey "
        "  GROUP BY pa, pb, pc) "
        "SELECT pa, pb, pc, support FROM triples WHERE support >= 2 "
        "ORDER BY support DESC, pa, pb, pc LIMIT 20"
    ),
)
def q_itemsets_3(spark, sf_dir):
    """Frequent 3-itemset mining (the a-priori level above
    q_market_basket's pairs): part triples co-purchased in ≥2 orders,
    top-20 by support — the association-rule primitive one level
    deeper than pairwise lift.

    Scale shape: both joins are ORDER-KEY-BLOCKED self-joins (the
    quadratic/cubic work happens inside a basket, never across
    baskets), so cost is Σ_order C(|basket|, 3) — linear in orders
    for bounded baskets, same envelope and same documentation
    contract as q_market_basket's Σ basket². The a-priori prune
    (only items in frequent pairs can appear in frequent triples)
    is the knob to add ahead of the triple join if baskets grow;
    at TPC-H basket sizes (~4 distinct parts) the direct join is
    cheaper than materializing the pair dimension. TakeOrdered
    top-20, no global sort."""
    # materialized: the triple self-join reads od three times — one
    # distinct instead of three
    od = materialize(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = od.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = od.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    c = od.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pc")
    )
    triples = (
        a.join(b, "ok")
        .filter(F.col("pb") > F.col("pa"))
        .join(c, "ok")
        .filter(F.col("pc") > F.col("pb"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return triples.orderBy(
        F.desc("support"), "pa", "pb", "pc"
    ).limit(20)


@query(
    "q_ema",
    oracle=(
        "WITH daily AS ("
        "  SELECT user_id, CAST(ts AS DATE) AS day, "
        "    round(sum(value), 6) AS x "
        "  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL "
        "    AND user_id IS NOT NULL "
        "  GROUP BY user_id, CAST(ts AS DATE)), "
        "seq AS ("
        "  SELECT user_id, day, x, "
        "    row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 "
        "      AS rn FROM daily), "
        "cum AS ("
        "  SELECT user_id, day, "
        "    sum(x * power(1.0 / 0.9, rn)) OVER ("
        "      PARTITION BY user_id ORDER BY rn "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu, "
        "    sum(power(1.0 / 0.9, rn)) OVER ("
        "      PARTITION BY user_id ORDER BY rn "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv "
        "  FROM seq) "
        "SELECT user_id, day, round(cu / cv, 6) AS ema FROM cum"
    ),
)
def q_ema(spark, sf_dir):
    """Exponential moving average (adjusted form, α = 0.1) of each
    user's daily value series — the standard smoother for activity /
    spend trend lines.

    EMA is defined recursively, which SQL windows can't express
    directly; the prefix-sum identity makes it one window pass:
    EMA_t = Σ β^(t-i)·x_i / Σ β^(t-i) = CumΣ(x·β^(-i)) / CumΣ(β^(-i))
    — the β^t factors cancel symbolically, so no per-row
    renormalization and ONE user-keyed shuffle (the day aggregate),
    with both cumulative sums sharing one window frame. Envelope:
    β^(-i) grows ~1.11^i, overflowing double around series length
    ~6700; daily series are bounded by the calendar, and longer
    series segment-rescale (documented, not needed here). Relative
    precision concentrates on recent terms — which is exactly EMA's
    semantics. Identical arithmetic on both engines, rounded at the
    day aggregate and the output. NULL-ts / NULL-user events carry no
    (user, day) coordinate and are excluded on BOTH engines (round-6
    key-fuzz sweep)."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.filter(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    w_seq = Window.partitionBy("user_id").orderBy("day")
    seq = daily.withColumn("rn", F.row_number().over(w_seq) - 1)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inv_beta = F.pow(F.lit(1.0 / 0.9), F.col("rn"))
    cum = seq.select(
        "user_id",
        "day",
        F.sum(F.col("x") * inv_beta).over(w_cum).alias("cu"),
        F.sum(inv_beta).over(w_cum).alias("cv"),
    )
    return cum.select(
        "user_id", "day", F.round(F.col("cu") / F.col("cv"), 6).alias("ema")
    )


# integer md5-draw thresholds for a Poisson(1) resample weight: round
# of cumulative Poisson CDF × 2^32 — shared literals on both engines
# so the CASE ladder compares integers, never floats
_POIS = [1580030169, 3160060338, 3950075380, 4213413731, 4279252069, 4292419737]


@query(
    "q_bootstrap_ci",
    oracle=(
        "WITH base AS ("
        "  SELECT event_id, value FROM events "
        "  WHERE event_type = 'purchase' AND value IS NOT NULL), "
        "drawn AS ("
        "  SELECT b.i AS rep, value, "
        "    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' || "
        "      CAST(b.i AS VARCHAR)), 1, 8))::UBIGINT AS u "
        "  FROM base, (SELECT unnest(range(50)) AS i) b), "
        "weighted AS ("
        "  SELECT rep, value, CASE "
        f"    WHEN u < {_POIS[0]} THEN 0 WHEN u < {_POIS[1]} THEN 1 "
        f"    WHEN u < {_POIS[2]} THEN 2 WHEN u < {_POIS[3]} THEN 3 "
        f"    WHEN u < {_POIS[4]} THEN 4 WHEN u < {_POIS[5]} THEN 5 "
        "    ELSE 6 END AS w "
        "  FROM drawn), "
        "reps AS ("
        "  SELECT rep, sum(w * value) / sum(w) AS m "
        "  FROM weighted GROUP BY rep HAVING sum(w) > 0), "
        "ranked AS ("
        "  SELECT m, row_number() OVER (ORDER BY m) AS rn, "
        "    count(*) OVER () AS n FROM reps) "
        "SELECT "
        "  (SELECT round(avg(value), 6) FROM base) AS point_mean, "
        "  round(min(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo, "
        "  round(min(CASE WHEN rn = n - 1 THEN m END), 6) AS ci_hi, "
        "  CAST(count(*) AS BIGINT) AS n_reps "
        "FROM ranked"
    ),
)
def q_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for mean purchase value, fully
    DETERMINISTIC: 50 resample replicates where each row's weight in
    replicate b is a Poisson(1) draw (the multinomial resample's
    large-n limit) read off an md5(event_id:b) integer against
    precomputed integer CDF thresholds — no RNG state, identical on
    any engine and any partitioning, which is what makes a resampling
    method auditable at 100 TB. The CI is the 2nd-smallest /
    2nd-largest replicate mean (a ~96% interval at B=50, order
    statistics — no interpolation ambiguity).

    Scale shape: the 50× row fan-out feeds a 50-group aggregate whose
    partials combine map-side, so the shuffle carries 50×partitions
    tiny rows; the order statistics run on the 50-row replicate
    table. One fact scan, one bounded-keyspace shuffle."""
    e = t(spark, sf_dir, "events")
    base = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("event_id", "value")
    drawn = base.select(
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(49))).alias("rep"),
        F.col("event_id"),
    ).select(
        "rep",
        "value",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    w = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .when(F.col("u") < _POIS[5], 5)
        .otherwise(6)
    )
    reps = (
        drawn.select("rep", "value", w.alias("w"))
        .groupBy("rep")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m"),
            F.sum("w").alias("_tw"),
        )
        .filter(F.col("_tw") > 0)
        .select("rep", "m")
    )
    wr = Window.orderBy("m")
    ranked = reps.select(
        "m",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    point = base.agg(F.round(F.avg("value"), 6).alias("point_mean"))
    ci = ranked.agg(
        F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))), 6).alias(
            "ci_lo"
        ),
        F.round(
            F.min(F.when(F.col("rn") == F.col("n") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
        F.count("*").cast("bigint").alias("n_reps"),
    )
    return point.join(F.broadcast(ci))


@query(
    "q_psi_drift",
    oracle=(
        "WITH ref AS (SELECT value FROM events "
        "  WHERE isfinite(value) AND extract(day FROM ts) <= 15), "
        "cur AS (SELECT value FROM events "
        "  WHERE isfinite(value) AND extract(day FROM ts) > 15), "
        "b AS (SELECT list_transform(quantile_cont(value, "
        "  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]), "
        "  x -> round(x, 6)) AS bnds FROM ref), "
        "rb AS (SELECT len(list_filter((SELECT bnds FROM b), "
        "  x -> x <= value)) AS bin FROM ref), "
        "cb AS (SELECT len(list_filter((SELECT bnds FROM b), "
        "  x -> x <= value)) AS bin FROM cur), "
        "rc AS (SELECT bin, count(*) AS n FROM rb GROUP BY bin), "
        "cc AS (SELECT bin, count(*) AS n FROM cb GROUP BY bin), "
        "tot AS (SELECT (SELECT count(*) FROM rb) AS nr, "
        "  (SELECT count(*) FROM cb) AS nc) "
        "SELECT CAST(g.bin AS INT) AS bin, "
        "  CAST(coalesce(rc.n, 0) AS BIGINT) AS n_ref, "
        "  CAST(coalesce(cc.n, 0) AS BIGINT) AS n_cur, "
        "  round(((coalesce(cc.n, 0) + 1.0) / (nc + 10) "
        "       - (coalesce(rc.n, 0) + 1.0) / (nr + 10)) "
        "    * ln(((coalesce(cc.n, 0) + 1.0) / (nc + 10)) "
        "       / ((coalesce(rc.n, 0) + 1.0) / (nr + 10))), 6) AS psi_term "
        "FROM (SELECT unnest(range(10)) AS bin) g "
        "LEFT JOIN rc ON rc.bin = g.bin "
        "LEFT JOIN cc ON cc.bin = g.bin "
        "CROSS JOIN tot"
    ),
)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index — the standard production drift
    monitor between a reference window (days 1-15) and a current
    window (days 16+): bin both samples by the REFERENCE deciles, then
    psi_term = (p_cur - p_ref)·ln(p_cur/p_ref) per bin (Laplace
    +1/+10 smoothing so empty bins stay finite); Σ psi_term > 0.2 is
    the conventional retrain trigger.

    Scale shape: decile boundaries come from the GLOBAL exact-quantile
    kernel (operators/quantiles.py::global_quantiles — range-partition
    + broadcast prefix-sum offsets, never an unpartitioned window or a
    value-map aggregation buffer), are ROUNDED to 6 dp so the bin cut
    is float-stable across engines, and travel as a broadcast 1-row
    array dim; binning is a
    codegen'd array filter per row (no per-row join), and the PSI
    arithmetic runs on the 10-row bin aggregate. Two fact passes total
    (boundary sort + bin count), each a plain keyed shuffle. NULL and
    non-finite values are excluded explicitly on both engines (a NaN
    boundary would poison the bin cut; ±Inf skews the deciles).
    """
    from hls_stac_parquet_spark.operators.quantiles import global_quantiles
    from hls_stac_parquet_spark.queries.registry import finite

    ev = t(spark, sf_dir, "events").filter(finite(F.col("value")))
    ref = ev.filter(F.dayofmonth("ts") <= 15).select("value")
    cur = ev.filter(F.dayofmonth("ts") > 15).select("value")
    probs = [i / 10.0 for i in range(1, 10)]
    names = [f"_q{i}" for i in range(1, 10)]
    bdim = global_quantiles(ref, "value", probs, names).select(
        F.array(*[F.round(F.col(n), 6) for n in names]).alias("bnds")
    )

    def bins(side):
        # declared semantic: bins are UNDEFINED without a reference
        # sample — when every boundary is NULL (empty ref), bin is
        # NULL, matching DuckDB's list_filter(NULL)=NULL, instead of
        # silently binning everything to 0
        bin_col = F.when(
            F.size(F.filter("bnds", lambda x: x.isNotNull())) == 0,
            F.lit(None).cast("int"),
        ).otherwise(F.size(F.filter("bnds", lambda x: x <= F.col("value"))))
        return (
            side.join(F.broadcast(bdim))
            .select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    rc = bins(ref).select(F.col("bin"), F.col("n").alias("rn"))
    cc = bins(cur).select(F.col("bin"), F.col("n").alias("cn"))
    tot = ref.agg(F.count("*").alias("nr")).join(
        cur.agg(F.count("*").alias("nc"))
    )
    g = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    pr = (F.coalesce("cn", F.lit(0)) + 1.0) / (F.col("nc") + 10)
    pf = (F.coalesce("rn", F.lit(0)) + 1.0) / (F.col("nr") + 10)
    return (
        g.join(rc, "bin", "left")
        .join(cc, "bin", "left")
        .join(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce("rn", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("cn", F.lit(0)).cast("bigint").alias("n_cur"),
            F.round((pr - pf) * F.log(pr / pf), 6).alias("psi_term"),
        )
    )


@query(
    "q_holt_winters",
    oracle=(
        "WITH RECURSIVE "
        "daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "  CAST(count(*) AS DOUBLE) AS x FROM events "
        "  WHERE event_type IS NOT NULL GROUP BY 1, 2), "
        "obs AS (SELECT event_type AS grp, x, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY day) - 1 AS step FROM daily), "
        # state = (level, trend, 7-slot seasonal list); one recursive
        # step consumes one observation; recursion stops per group when
        # the join finds no next step
        "hw(grp, step, lvl, trd, seas) AS ("
        "  SELECT grp, 0, x, 0.0::DOUBLE, "
        "    [0.0,0.0,0.0,0.0,0.0,0.0,0.0]::DOUBLE[] FROM obs WHERE step = 0 "
        "  UNION ALL "
        "  SELECT grp, step, nl, "
        "    0.2*(nl - lvl) + (1.0 - 0.2)*trd, "
        "    list_transform(range(1, 8), "
        "      i -> CASE WHEN i = si THEN 0.3*(x - nl) + (1.0 - 0.3)*seas[i] "
        "           ELSE seas[i] END) "
        "  FROM ("
        "    SELECT h.grp AS grp, h.step + 1 AS step, h.lvl AS lvl, "
        "      h.trd AS trd, h.seas AS seas, o.x AS x, "
        "      ((h.step + 1) % 7) + 1 AS si, "
        "      0.5*(o.x - h.seas[((h.step + 1) % 7) + 1]) "
        "        + (1.0 - 0.5)*(h.lvl + h.trd) AS nl "
        "    FROM hw h JOIN obs o ON o.grp = h.grp "
        "      AND o.step = h.step + 1)), "
        "fin AS (SELECT h.grp AS grp, h.step AS step, h.lvl AS lvl, "
        "  h.trd AS trd, h.seas AS seas FROM hw h "
        "  JOIN (SELECT grp, max(step) AS ms FROM hw GROUP BY grp) m "
        "  ON m.grp = h.grp AND m.ms = h.step) "
        "SELECT grp AS event_type, CAST(hh AS INT) AS h, "
        "  lvl + hh*trd + seas[((step + hh) % 7) + 1] AS forecast "
        "FROM fin, range(1, 8) r(hh)"
    ),
)
def q_holt_winters(spark, sf_dir):
    """Holt-Winters additive forecast of daily event volume per event
    type (operators/forecast.py::holt_winters): level+trend+weekly
    seasonality smoothed over each type's daily-count series, 7-day
    forecast out — the classical capacity-planning / volume-anomaly
    baseline (alert when tomorrow's ingest leaves the forecast band).

    FULL oracle for an inherently sequential recursion: the DuckDB
    twin carries (level, trend, seasonal-list) through a recursive CTE
    — one step per observation, stopping naturally per group when the
    next-step join misses — with the IDENTICAL IEEE operation tree
    seeded from exact integer counts, so forecasts hash-match
    bit-for-bit with no rounding rescue (the MMR discipline).

    Scale shape: the fact scan collapses to a days×types series in one
    grouped count; the O(length) smoothing loop runs inside one
    applyInPandas group per type — sequential state confined to the
    smallest possible relation, never a driver loop."""
    from hls_stac_parquet_spark.operators.forecast import holt_winters

    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    return holt_winters(
        daily, "event_type", "day", "x", season=7,
        alpha=0.5, beta=0.2, gamma=0.3, horizon=7,
    )


@query(
    "q_seasonal_decompose",
    oracle=(
        "WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt "
        "  FROM events WHERE ts IS NOT NULL GROUP BY 1), "
        "win AS (SELECT day, cnt, sum(cnt) OVER w AS t7, "
        "  count(*) OVER w AS nw, CAST(extract(dow FROM day) AS INT) AS dow "
        "  FROM daily WINDOW w AS "
        "  (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), "
        "full7 AS (SELECT * FROM win WHERE nw = 7), "
        "seas AS (SELECT dow, sum(7 * cnt - t7) AS s_num, count(*) AS k "
        "  FROM full7 GROUP BY dow) "
        "SELECT f.day, CAST(f.cnt AS BIGINT) AS cnt, "
        "  round(f.t7 / 7.0, 6) AS trend, "
        "  round(s.s_num / (7.0 * s.k), 6) AS seasonal, "
        "  round(f.cnt - f.t7 / 7.0 - s.s_num / (7.0 * s.k), 6) AS resid "
        "FROM full7 f JOIN seas s ON s.dow = f.dow"
    ),
)
def q_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the daily event
    series: trend = centered 7-day moving average (full windows only),
    seasonal = per-weekday mean of the detrended series, residual =
    observed − trend − seasonal — the pre-processing step behind every
    time-series anomaly detector.

    FP-stability by construction: both engines derive every component
    from EXACT INTEGER sums — trend numerator is a rolling integer
    sum, the seasonal numerator is Σ(7·cnt − trend_sum) (integers
    throughout), and division by 7/7k happens once at the end in the
    identical expression shape — so the hash match is exact, not
    round-rescued. Weekday numbering is aligned explicitly (Spark
    dayofweek−1 ≡ DuckDB dow). Scale shape: every window/aggregate
    runs over the DAYS-sized relation (one fact-table pass produces
    it); the seasonal dim is 7 rows, broadcast. NULL-ts events belong
    to no day and are excluded on BOTH engines (round-6 key-fuzz
    sweep).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("t7"),
        F.count("*").over(w).alias("nw"),
        (F.dayofweek("day") - 1).alias("dow"),
    )
    full7 = win.filter(F.col("nw") == 7)
    seas = full7.groupBy("dow").agg(
        F.sum(7 * F.col("cnt") - F.col("t7")).alias("s_num"),
        F.count("*").alias("k"),
    )
    return full7.join(F.broadcast(seas), "dow").select(
        "day",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("t7") / 7.0, 6).alias("trend"),
        F.round(F.col("s_num") / (7.0 * F.col("k")), 6).alias("seasonal"),
        F.round(
            F.col("cnt") - F.col("t7") / 7.0
            - F.col("s_num") / (7.0 * F.col("k")),
            6,
        ).alias("resid"),
    )


@query(
    "q_item_item_cf",
    oracle=(
        "WITH od AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "pc AS (SELECT l_partkey, count(*) AS n FROM od GROUP BY 1), "
        "pr AS (SELECT a.l_partkey AS ia, b.l_partkey AS ib, "
        "  count(*) AS nab FROM od a JOIN od b "
        "  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "  GROUP BY 1, 2), "
        "sym AS (SELECT ia AS item, ib AS neighbor, nab FROM pr "
        "  UNION ALL SELECT ib, ia, nab FROM pr), "
        "sims AS (SELECT item, neighbor, nab, "
        "  round(nab / sqrt(ca.n * cb.n), 6) AS sim "
        "  FROM sym JOIN pc ca ON ca.l_partkey = item "
        "  JOIN pc cb ON cb.l_partkey = neighbor) "
        "SELECT item, neighbor, CAST(nab AS BIGINT) AS n_together, sim, "
        "  CAST(rn AS INT) AS rnk "
        "FROM (SELECT *, row_number() OVER "
        "  (PARTITION BY item ORDER BY sim DESC, neighbor) AS rn FROM sims) "
        "WHERE rn <= 5"
    ),
)
def q_item_item_cf(spark, sf_dir):
    """Item-item collaborative filtering: top-5 nearest neighbors per
    part by BINARY COSINE over order baskets — sim(i,j) =
    cooc(i,j)/√(n_i·n_j) — the classic Amazon-style recommender
    precompute, and the co-occurrence twin of q_market_basket's lift
    ranking.

    Scale shape: candidate pairs come from the order-key-blocked
    self-join (Σ|basket|² ≈ linear for bounded baskets — never the
    |items|² matrix); per-item supports join back as AQE-adaptive
    dims; the top-5 cut is a per-item window over the PAIR AGGREGATE
    (bounded by co-occurrence structure, not the corpus). The rank
    orders by sim ROUNDED to 6 dp with a neighbor-id tiebreak, so the
    cut is float-stable across engines.
    """
    from hls_stac_parquet_spark.operators.lsh import self_join_pairs

    # materialized at both branch points: od feeds the support dim
    # AND the pair join (the distinct would otherwise run twice), and
    # pr is unioned in both directions (the whole blocked self-join
    # would otherwise replay). Measured at sf0.1: 2.1 -> 0.9 s warm.
    od = materialize(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pc = od.groupBy("l_partkey").agg(F.count("*").alias("n"))
    # r8: join supports onto the CANONICAL pairs and union the
    # projected result, instead of union-doubling the pair relation
    # before the joins — sim(a,b) == sim(b,a), so the former plan ran
    # both support joins (the profiled 14 s-task-time stage) over 2×
    # the rows to compute each value twice (guide §2.3: shuffle/join
    # fewer bytes). The checkpoint moves from the raw pair counts to
    # the scored canonical pairs (same row count, one reuse point);
    # the direction flip is a projection-only re-read.
    ca = pc.select(F.col("l_partkey").alias("id_a"), F.col("n").alias("na"))
    cb = pc.select(F.col("l_partkey").alias("id_b"), F.col("n").alias("nb"))
    simc = (
        self_join_pairs(od, ["l_orderkey"], "l_partkey")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("nab"))
        .join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "nab",
            F.round(
                F.col("nab") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
    )
    simc = materialize(simc)
    sims = simc.select(
        F.col("id_a").alias("item"),
        F.col("id_b").alias("neighbor"),
        "nab",
        "sim",
    ).unionAll(
        simc.select(
            F.col("id_b").alias("item"),
            F.col("id_a").alias("neighbor"),
            "nab",
            "sim",
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("sim"), "neighbor")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "item",
            "neighbor",
            F.col("nab").cast("bigint").alias("n_together"),
            "sim",
            F.col("rn").cast("int").alias("rnk"),
        )
    )


@query(
    "q_geo_radius_join",
    oracle=(
        "WITH cust AS ("
        "  SELECT c_custkey, "
        "    CAST((c_custkey * 9301 + 49297) % 18000 AS DOUBLE)/100 - 90 AS clat, "
        "    CAST((c_custkey * 7919 + 104729) % 36000 AS DOUBLE)/100 - 180 AS clon "
        "  FROM customer WHERE c_custkey % 10 = 0), "
        "supp AS ("
        "  SELECT s_suppkey, "
        "    CAST((s_suppkey * 9301 + 49297) % 18000 AS DOUBLE)/100 - 90 AS slat, "
        "    CAST((s_suppkey * 7919 + 104729) % 36000 AS DOUBLE)/100 - 180 AS slon "
        "  FROM supplier) "
        "SELECT c_custkey, s_suppkey, round(d, 3) AS dist_km FROM ("
        "  SELECT c.c_custkey, s.s_suppkey, "
        "    2 * 6371.0088 * asin(sqrt("
        "      sin(radians(s.slat - c.clat)/2) * sin(radians(s.slat - c.clat)/2) "
        "      + cos(radians(c.clat)) * cos(radians(s.slat)) "
        "      * sin(radians(s.slon - c.clon)/2) * sin(radians(s.slon - c.clon)/2)"
        "    )) AS d "
        "  FROM cust c, supp s) WHERE d <= 500.0"
    ),
)
def q_geo_radius_join(spark, sf_dir):
    """Large×large geo RADIUS join — every (customer, supplier) pair
    within 500 km, grid-blocked exactly (operators/spatialjoin.py::
    geo_radius_pairs): both sides embed on the 3-D unit sphere where
    "within 500 km" is a fixed chord length, a cubic grid with
    chord-sized cells generates candidates (right side explodes to
    its 3×3×3 neighborhood, left side hashes to ONE home cell — each
    pair meets exactly once), and the exact haversine decides. This
    is the declared scale tier behind q_geo_knn's guarded broadcast:
    one cell-keyed shuffle instead of |L|·|R|, no pole or
    antimeridian special cases by construction.

    The oracle replays the IDENTICAL haversine arithmetic on the
    UNBLOCKED quadratic join — pinning that blocking is
    result-invisible (the same contract as q_point_in_polygon).
    Distances round to 3 dp at presentation only; the ≤ filter runs
    on the raw double, which both engines compute bit-identically
    from the same deterministic LCG coordinates.
    """
    from hls_stac_parquet_spark.operators.spatialjoin import geo_radius_pairs

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            (((F.col("c_custkey") * 9301 + 49297) % 18000).cast("double") / 100 - 90).alias("clat"),
            (((F.col("c_custkey") * 7919 + 104729) % 36000).cast("double") / 100 - 180).alias("clon"),
        )
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 9301 + 49297) % 18000).cast("double") / 100 - 90).alias("slat"),
        (((F.col("s_suppkey") * 7919 + 104729) % 36000).cast("double") / 100 - 180).alias("slon"),
    )
    pairs = geo_radius_pairs(
        cust, supp, 500.0, lat_l="clat", lon_l="clon", lat_r="slat", lon_r="slon"
    )
    return pairs.select(
        "c_custkey", "s_suppkey", F.round("dist_km", 3).alias("dist_km")
    )


@query(
    "q_global_quantiles",
    oracle=(
        "SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, "
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, "
        "round(quantile_cont(l_extendedprice, 0.99), 6) AS p99, "
        "CAST(count(l_extendedprice) AS BIGINT) AS n FROM lineitem"
    ),
)
def q_global_quantiles(spark, sf_dir):
    """Exact GLOBAL quantiles of a fact-table column — the
    single-monstrous-group case every per-group quantile kernel
    dodges. Computed scalably (operators/quantiles.py::
    global_quantiles): range-partition by value, rank locally, add
    broadcast prefix-sum offsets (#partitions-sized dim), one
    conditional-sum interpolation aggregate — never an unpartitioned
    row_number window over the fact table, never the builtin
    `percentile`'s value-map buffer. ≡ DuckDB quantile_cont (type-7
    interpolation); equality with the single-window kernel is also
    property-pinned independent of this oracle.
    """
    from hls_stac_parquet_spark.operators.quantiles import global_quantiles

    li = t(spark, sf_dir, "lineitem")
    q = global_quantiles(
        li, "l_extendedprice", [0.5, 0.9, 0.99], ["_p50", "_p90", "_p99"]
    )
    n = li.agg(F.count("l_extendedprice").cast("bigint").alias("n"))
    return q.join(F.broadcast(n)).select(
        F.round("_p50", 6).alias("p50"),
        F.round("_p90", 6).alias("p90"),
        F.round("_p99", 6).alias("p99"),
        "n",
    )


@query(
    "q_cusum_changepoint",
    oracle=(
        "WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt "
        "  FROM events WHERE ts IS NOT NULL GROUP BY 1), "
        "tot AS (SELECT sum(cnt) AS total, count(*) AS n FROM daily), "
        "pre AS (SELECT day, cnt, "
        "  sum(cnt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING "
        "    AND CURRENT ROW) AS pfx, "
        "  row_number() OVER (ORDER BY day) AS d "
        "  FROM daily), "
        "s AS (SELECT day, cnt, n * pfx - d * total AS s_num, n "
        "  FROM pre CROSS JOIN tot) "
        "SELECT day, CAST(cnt AS BIGINT) AS cnt, "
        "  round(s_num * 1.0 / n, 6) AS cusum, "
        "  CAST(abs(s_num) = (SELECT max(abs(s_num)) FROM s) AS BOOLEAN) "
        "    AS is_changepoint "
        "FROM s"
    ),
)
def q_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection over the daily event series: the
    cumulative sum of deviations from the global mean, S_d = Σ_{t≤d}
    (cnt_t − mean), peaks in |S| at the most likely level-shift day —
    the classic offline changepoint statistic (Page's CUSUM /
    binary-segmentation step) behind pipeline-volume regression
    alarms.

    Exactness: the statistic is computed as the INTEGER n·S_d =
    n·prefix_d − d·total (no float accumulates anywhere), so the
    argmax comparison — where float ulps would misflag the peak — is
    exact integer equality on both engines; division by n happens
    once at presentation. Scale shape: one fact pass builds the
    days-sized aggregate; prefix sums and the peak test run over
    |days| rows (the running-sum window is a days-sized relation, as
    in q_max_concurrency). NULL-ts events belong to no day and are
    excluded on BOTH engines (round-6 key-fuzz sweep).
    """
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    tot = daily.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("pfx"),
        F.row_number().over(Window.orderBy("day")).alias("d"),
    )
    s = pre.join(F.broadcast(tot)).select(
        "day",
        "cnt",
        (F.col("n") * F.col("pfx") - F.col("d") * F.col("total")).alias(
            "s_num"
        ),
        "n",
    )
    mx = s.agg(F.max(F.abs("s_num")).alias("mx"))
    return s.join(F.broadcast(mx)).select(
        "day",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("s_num") * 1.0 / F.col("n"), 6).alias("cusum"),
        (F.abs("s_num") == F.col("mx")).alias("is_changepoint"),
    )


@query(
    "q_theil_sen",
    oracle=(
        "WITH pts AS (SELECT user_id, epoch_us(ts) AS t, value AS v "
        "  FROM events WHERE isfinite(value)), "
        "slopes AS (SELECT a.user_id, "
        "  (b.v - a.v) * 3600000000.0 / (b.t - a.t) AS slope "
        "  FROM pts a JOIN pts b "
        "  ON a.user_id = b.user_id AND a.t < b.t), "
        "med AS (SELECT user_id, count(*) AS n_pairs, "
        "  quantile_cont(slope, 0.5) AS m FROM slopes GROUP BY user_id) "
        "SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs, "
        "  round(m, 6) AS slope_per_hour FROM med"
    ),
    bench=False,  # quadratic-per-user pair path is the ESTIMATOR's
    # definition (Σ per-user² like q_funnel_windowed), not plan waste;
    # excluded from the headline set to keep the bench scan-bound
)
def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per user: the MEDIAN of all pairwise
    slopes of (value vs time) — the standard outlier-immune
    alternative to OLS (q_linreg_by_group), 29%-breakdown-point
    trend estimation for noisy per-entity series.

    The pairwise join is BLOCKED BY USER (co-partitioned equi join;
    Σ per-user² for bounded per-user event counts — the
    q_funnel_windowed envelope), never a global pair relation. The
    per-user slope median uses the shared sort-based exact-quantile
    kernel (operators/quantiles.py — ≡ DuckDB quantile_cont).
    Timestamps compare as integer microseconds (epoch_us ≡
    timestampdiff MICROSECOND on NTZ), slopes scale to per-hour with
    multiply-before-divide so both engines evaluate the identical
    IEEE expression; equal timestamps are excluded by the strict
    t-inequality on both sides (no 0-division row). NULL values are
    excluded explicitly.
    """
    from hls_stac_parquet_spark.operators.quantiles import grouped_quantiles

    pts = (
        t(spark, sf_dir, "events")
        .filter(_finite(F.col("value")))
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            ).alias("_t"),
            F.col("value").alias("_v"),
        )
    )
    a = pts.select("user_id", F.col("_t").alias("ta"), F.col("_v").alias("va"))
    b = pts.select("user_id", F.col("_t").alias("tb"), F.col("_v").alias("vb"))
    slopes = (
        a.join(b, ["user_id"])
        .filter(F.col("ta") < F.col("tb"))
        .select(
            "user_id",
            (
                (F.col("vb") - F.col("va"))
                * 3600000000.0
                / (F.col("tb") - F.col("ta"))
            ).alias("slope"),
        )
    )
    # median AND pair count from ONE kernel pass (count_col) — a
    # separate count aggregate would replay the blocked pair join
    # ranged=False pinned: the input is the blocked pair join — the
    # ranged tier's boundary sampling would replay it — and user_id
    # is high-cardinality, exactly the hash tier's good case
    med = grouped_quantiles(
        slopes, ["user_id"], "slope", [0.5], ["_m"], count_col="n_pairs",
        ranged=False,
    )
    return med.select(
        "user_id", "n_pairs", F.round("_m", 6).alias("slope_per_hour")
    )


@query(
    "q_conformal_threshold",
    oracle=(
        "WITH s AS (SELECT event_type, value, event_id FROM events "
        "  WHERE isfinite(value)), "
        "n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n "
        "  FROM s GROUP BY event_type), "
        "k AS (SELECT event_type, n, "
        "  least(CAST(ceil(0.9 * (n + 1)) AS BIGINT), n) AS k FROM n), "
        "r AS (SELECT event_type, value, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY value, event_id) AS rn FROM s), "
        "thr AS (SELECT r.event_type, k.n, k.k, r.value AS threshold "
        "  FROM r JOIN k USING (event_type) WHERE r.rn = k.k) "
        "SELECT t.event_type, t.n, t.k, round(t.threshold, 6) AS threshold, "
        "  round(CAST(count(*) FILTER (WHERE s.value <= t.threshold) "
        "    AS DOUBLE) / t.n, 6) AS emp_coverage "
        "FROM thr t JOIN s USING (event_type) "
        "GROUP BY t.event_type, t.n, t.k, t.threshold"
    ),
)
def q_conformal_threshold(spark, sf_dir):
    """Split-conformal prediction threshold per group (α = 0.1): the
    ⌈(n+1)(1−α)⌉-th smallest nonconformity score — the distribution-
    free cutoff that guarantees ≥ 90% coverage on exchangeable future
    points (Vovk; the eval-calibration primitive behind selective
    prediction and LLM-judge score thresholds). Emits the finite-
    sample-corrected rank k, the threshold, and the measured
    empirical coverage (≥ 0.9 by construction — the output carries
    its own contract).

    Scale shape: one event_type-keyed rank window (per-group sort in
    hash partitions — never a global sort), the k dim is
    |groups|-sized and broadcast, and the coverage re-check joins the
    threshold dim BACK to the scores as a broadcast hash join: two
    fact passes total, both partial-aggregable. Ties at the k-th
    value are safe: row_number may permute equal values but the k-th
    VALUE is invariant. Non-finite scores are excluded on both
    engines (registry finite-measurement semantic)."""
    s = (
        t(spark, sf_dir, "events")
        .filter(_finite(F.col("value")))
        .select("event_type", "value", "event_id")
    )
    n = s.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    k = n.select(
        "event_type",
        "n",
        F.least(F.ceil(0.9 * (F.col("n") + 1)).cast("bigint"), F.col("n"))
        .alias("k"),
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = s.withColumn("rn", F.row_number().over(w))
    thr = (
        r.join(F.broadcast(k), "event_type")
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", "n", "k", F.col("value").alias("threshold"))
    )
    return (
        s.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n", "k", "threshold")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("value") <= F.col("threshold"), 1).otherwise(0)
                ).cast("double")
                / F.col("n"),
                6,
            ).alias("emp_coverage")
        )
        .select(
            "event_type",
            "n",
            "k",
            F.round("threshold", 6).alias("threshold"),
            "emp_coverage",
        )
    )


@query(
    "q_ece_calibration",
    oracle=(
        "WITH scored AS ("
        "  SELECT least(greatest(value / 100.0, 0.0), 1.0) AS p, "
        "    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y "
        "  FROM events WHERE isfinite(value)), "
        "binned AS ("
        "  SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, "
        "    CAST(count(*) AS BIGINT) AS n_b, "
        "    avg(p) AS conf, avg(y) AS acc "
        "  FROM scored GROUP BY 1), "
        "tot AS (SELECT sum(n_b) AS n, "
        "  sum(n_b * abs(acc - conf)) AS werr FROM binned) "
        "SELECT b.bin, b.n_b, round(b.conf, 6) AS conf, "
        "  round(b.acc, 6) AS acc, round(abs(b.acc - b.conf), 6) AS gap, "
        "  round(t.werr / t.n, 6) AS ece "
        "FROM binned b, tot t"
    ),
)
def q_ece_calibration(spark, sf_dir):
    """Expected calibration error (ECE, 10 equal-width bins) of a
    scored binary outcome — the reliability-diagram aggregate that
    complements q_isotonic_calibration's corrective fit: per-bin
    confidence vs accuracy, plus the n-weighted |gap| average every
    row carries. Scores are the clamped value/100 (pure rational
    arithmetic — no exp/ln, so the oracle replays the floats exactly;
    the round-5 verdict's cross-libm hardening rule), labels are
    purchase events.

    Scale shape: ONE conditional-aggregate pass over the facts into a
    10-row bin table; the ECE constant is a 1-row aggregate of that
    table cross-joined back — nothing after the first groupBy touches
    fact-scale data. Non-finite scores excluded on both engines."""
    ev = t(spark, sf_dir, "events").filter(_finite(F.col("value")))
    p = F.least(F.greatest(F.col("value") / 100.0, F.lit(0.0)), F.lit(1.0))
    scored = ev.select(
        p.alias("p"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    tot = binned.agg(
        F.sum("n_b").alias("n"),
        F.sum(F.col("n_b") * F.abs(F.col("acc") - F.col("conf"))).alias(
            "werr"
        ),
    )
    return binned.join(F.broadcast(tot)).select(
        "bin",
        "n_b",
        F.round("conf", 6).alias("conf"),
        F.round("acc", 6).alias("acc"),
        F.round(F.abs(F.col("acc") - F.col("conf")), 6).alias("gap"),
        F.round(F.col("werr") / F.col("n"), 6).alias("ece"),
    )


@query(
    "q_propensity_ipw",
    oracle=(
        "WITH u AS ("
        "  SELECT user_id, "
        "    CAST(count(*) AS BIGINT) AS n_events, "
        "    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS t, "
        "    coalesce(sum(CASE WHEN event_type = 'purchase' "
        "      AND isfinite(value) THEN value END), 0.0) AS y "
        "  FROM events WHERE user_id IS NOT NULL GROUP BY user_id), "
        "d AS (SELECT *, CAST(ntile(10) OVER ("
        "  ORDER BY n_events, user_id) AS INT) AS decile FROM u), "
        "e AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users, "
        "  CAST(sum(t) AS BIGINT) AS n_treated, "
        "  least(greatest(sum(t) * 1.0 / count(*), 0.05), 0.95) AS eh "
        "  FROM d GROUP BY decile), "
        "terms AS (SELECT d.decile, "
        "  d.t * d.y / e.eh - (1 - d.t) * d.y / (1.0 - e.eh) AS w "
        "  FROM d JOIN e USING (decile)), "
        "ate AS (SELECT round(sum(w) / (SELECT count(*) FROM d), 6) AS a "
        "  FROM terms) "
        "SELECT e.decile, e.n_users, e.n_treated, round(e.eh, 6) AS e_hat, "
        "  ate.a AS ate_ipw FROM e, ate"
    ),
)
def q_propensity_ipw(spark, sf_dir):
    """Inverse-propensity-weighted treatment-effect estimate with
    decile-binned propensities — the observational-causal workhorse
    (did clicking CAUSE higher purchase value, adjusting for how
    active the user is?) that complements q_cuped's variance
    reduction: treatment = user ever clicked, outcome = total
    purchase value, confounder = activity decile; ê(d) = P(T=1|d)
    clipped to [0.05, 0.95] (the standard overlap guard, declared on
    both engines), ATE = mean(T·Y/ê − (1−T)·Y/(1−ê)).

    Scale shape: the fact table collapses to ONE row per user (single
    keyed aggregate — count, treated flag, outcome ride together);
    deciles come from the distributed ntile kernel
    (operators/ranking.py::with_global_ntile — a range shuffle +
    broadcast offsets, never a single-partition window; its closed
    form IS SQL ntile, so the oracle's plain ntile(10) matches rank
    for rank); propensities are a 10-row aggregate broadcast back.
    Pure rational arithmetic — no exp/ln, so no cross-libm risk.
    NULL user_id rows have no unit identity and are excluded on BOTH
    engines; a NULL event_type is simply not a click (CASE ELSE 0);
    non-finite purchase values are excluded from the outcome by the
    registry's finite-measurement semantic."""
    from hls_stac_parquet_spark.operators.ranking import with_global_ntile

    u = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("t"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase")
                        & _finite(F.col("value")),
                        F.col("value"),
                    )
                ),
                F.lit(0.0),
            ).alias("y"),
        )
    )
    d = with_global_ntile(
        u, [F.col("n_events"), F.col("user_id")], 10, "decile"
    )
    e = d.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("t").cast("bigint").alias("n_treated"),
        F.least(
            F.greatest(F.sum("t") / F.count("*"), F.lit(0.05)), F.lit(0.95)
        ).alias("eh"),
    )
    terms = d.join(F.broadcast(e), "decile").select(
        "decile",
        (
            F.col("t") * F.col("y") / F.col("eh")
            - (1 - F.col("t")) * F.col("y") / (1.0 - F.col("eh"))
        ).alias("w"),
    )
    n_total = d.agg(F.count("*").alias("_n"))
    ate = (
        terms.agg(F.sum("w").alias("_sw"))
        .join(F.broadcast(n_total))
        .select(F.round(F.col("_sw") / F.col("_n"), 6).alias("ate_ipw"))
    )
    return e.join(F.broadcast(ate)).select(
        "decile",
        "n_users",
        "n_treated",
        F.round("eh", 6).alias("e_hat"),
        "ate_ipw",
    )


@query(
    "q_mann_whitney",
    oracle=(
        "WITH s AS ("
        "  SELECT value AS v, "
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g "
        "  FROM events WHERE event_type IN ('purchase', 'click') "
        "    AND isfinite(value)), "
        "pv AS (SELECT v, CAST(sum(g) AS BIGINT) AS c1, "
        "    CAST(count(*) AS BIGINT) AS t "
        "  FROM s GROUP BY v), "
        "cum AS (SELECT v, c1, t, "
        "    CAST(coalesce(sum(t) OVER (ORDER BY v "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "      AS BIGINT) AS c "
        "  FROM pv), "
        "agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, "
        "    CAST(sum(t - c1) AS BIGINT) AS n2, "
        "    sum(c1 * (c + (t + 1) / 2.0)) AS r1, "
        "    CAST(sum(t * t * t - t) AS BIGINT) AS tie "
        "  FROM cum) "
        "SELECT n1, n2, "
        "  round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1, "
        "  round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) "
        "    / sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1) "
        "      - tie * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z "
        "FROM agg"
    ),
)
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test (tie-corrected normal
    approximation): are 'purchase' event values stochastically larger
    than 'click' values? The non-parametric A/B workhorse next to
    q_welch_ttest (means) and q_ks_drift (full distribution) — rank
    statistics are robust to the heavy right tails revenue columns
    always have.

    No per-row ranks are ever materialized: the rank-sum collapses to
    VALUE-level sufficient statistics — for each distinct value v with
    t(v) total rows (c1(v) from group 1), every row at v has average
    rank C(v) + (t(v)+1)/2 where C(v) = #rows below v. So the plan is
    one value-keyed aggregate (the only fact-scale shuffle), one
    distributed exclusive prefix-sum over the |distinct-values| relation
    (operators/ranking.py::with_global_cumsum — range shuffle +
    broadcast offsets, never a single-partition window), and a 1-row
    fold. All sums are exact in float (ranks are halves well below
    2^52), so U and the tie term are deterministic regardless of
    partition order; z is one closed-form expression over them.
    NULL/non-finite values and NULL event_type rows are excluded on
    BOTH engines (a NULL measurement has no rank)."""
    from hls_stac_parquet_spark.operators.ranking import with_global_cumsum

    s = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & _finite(F.col("value"))
        )
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("t"),
    )
    cum = with_global_cumsum(pv, [F.col("v")], {"_ct": "t"}).withColumn(
        "c", (F.col("_ct") - F.col("t")).cast("bigint")
    )
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (F.col("c") + (F.col("t") + 1) / 2.0)).alias("r1"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("bigint").alias("tie"),
    )
    n1, n2, r1, tie = F.col("n1"), F.col("n2"), F.col("r1"), F.col("tie")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    sigma = F.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - tie * 1.0 / (n * (n - 1.0)))
    )
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 6).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, 6).alias("z"),
    )


@query(
    "q_diff_in_diff",
    oracle=(
        "WITH base AS ("
        "  SELECT CAST(user_id % 2 AS INT) AS treated, "
        "    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' "
        "      THEN 1 ELSE 0 END AS post, value "
        "  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL "
        "    AND event_type = 'purchase' AND isfinite(value)), "
        "cells AS (SELECT treated, CAST(post AS INT) AS post, "
        "    CAST(count(*) AS BIGINT) AS n, avg(value) AS m "
        "  FROM base GROUP BY 1, 2), "
        "did AS (SELECT round(sum(m * (2 * treated - 1) "
        "    * (2 * post - 1)), 6) AS d FROM cells) "
        "SELECT c.treated, c.post, c.n, round(c.m, 6) AS mean_value, "
        "  did.d AS did FROM cells c, did"
    ),
)
def q_diff_in_diff(spark, sf_dir):
    """Difference-in-differences treatment-effect estimate over a 2x2
    (treated x pre/post) design — the panel-causal primitive that
    completes the causal family (q_cuped variance reduction,
    q_propensity_ipw confounder weighting): DiD =
    (E[y|t,post] - E[y|t,pre]) - (E[y|c,post] - E[y|c,pre]),
    i.e. the signed sum of the four cell means. Cohorts and the
    period split are DECLARED identically on both engines: treated =
    user_id mod 2 (a synthetic assignment — real pipelines swap in
    the experiment flag), post = ts >= the fixed 2024-01-16 midpoint
    of the data's one-month window.

    Scale shape: the fact scan collapses straight into a 4-row keyed
    aggregate (partial map-side combine does almost all the work);
    the DiD fold is a 1-row broadcast back onto the 4 cells. Rows
    with NULL user_id (no cohort identity), NULL ts (no period), or
    non-finite value are excluded on BOTH engines."""
    base = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
            & _finite(F.col("value"))
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("treated"),
            F.when(
                F.col("ts") >= F.expr("TIMESTAMP_NTZ'2024-01-16 00:00:00'"), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("post"),
            "value",
        )
    )
    cells = base.groupBy("treated", "post").agg(
        F.count("*").cast("bigint").alias("n"), F.avg("value").alias("m")
    )
    did = cells.agg(
        F.round(
            F.sum(
                F.col("m")
                * (2 * F.col("treated") - 1)
                * (2 * F.col("post") - 1)
            ),
            6,
        ).alias("did")
    )
    return cells.join(F.broadcast(did)).select(
        "treated", "post", "n", F.round("m", 6).alias("mean_value"), "did"
    )


@query(
    "q_hill_tail_index",
    oracle=(
        "WITH base AS (SELECT event_type, value, event_id FROM events "
        "  WHERE event_type IS NOT NULL AND isfinite(value) "
        "    AND value > 0), "
        "rk AS (SELECT event_type, value, row_number() OVER ("
        "    PARTITION BY event_type ORDER BY value DESC, event_id) "
        "    AS rnk FROM base), "
        "xm AS (SELECT event_type, value AS xmin FROM rk WHERE rnk = 101), "
        "hill AS (SELECT r.event_type, avg(ln(r.value / x.xmin)) AS h "
        "  FROM rk r JOIN xm x USING (event_type) WHERE r.rnk <= 100 "
        "  GROUP BY r.event_type) "
        "SELECT h.event_type, CAST(100 AS BIGINT) AS k, "
        "  round(x.xmin, 6) AS xmin, round(h.h, 6) AS hill, "
        "  round(1.0 / h.h, 6) AS alpha "
        "FROM hill h JOIN xm x USING (event_type)"
    ),
)
def q_hill_tail_index(spark, sf_dir):
    """Hill estimator of the tail index per event type — how heavy is
    the right tail of the value distribution? alpha = 1/hill where
    hill = (1/k) sum_{i<=k} ln(x_(i) / x_(k+1)) over the k=100 largest
    order statistics. Low alpha = Pareto-heavy tail: the skew
    diagnostic that tells you whether a sum/mean is even stable and
    whether the join key needs salting (pairs with
    q_degree_distribution's power-law slope on the graph side).

    Scale shape: the per-type top-(k+1) filter is a rank window that
    Spark 3.5+/4 rewrites to WindowGroupLimit — each map task keeps
    only its local top-101 per type BEFORE the shuffle, so the
    exchange carries O(types * 101 * partitions) rows, never the fact
    table. The xmin anchor row (rnk = k+1) broadcasts back onto the
    <= 100-row per-type head; ties at the boundary are broken by
    event_id on both engines. NULL event_type (no group identity),
    non-finite, and non-positive values (ln) are excluded on BOTH
    engines."""
    from pyspark.sql import Window

    base = t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & _finite(F.col("value"))
        & (F.col("value") > 0)
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.col("event_id")
    )
    # one eager materialization: the pruned relation is <=
    # 101·|types| rows but feeds THREE consumers (xmin anchor, hill
    # head, final projection) — without it each consumer re-scans the
    # fact table (3 full scans at 100 TB)
    rk = materialize(
        base.select(
            "event_type", "value", F.row_number().over(w).alias("rnk")
        ).filter(F.col("rnk") <= 101)
    )
    xm = rk.filter(F.col("rnk") == 101).select(
        "event_type", F.col("value").alias("xmin")
    )
    hill = (
        rk.filter(F.col("rnk") <= 100)
        .join(F.broadcast(xm), "event_type")
        .groupBy("event_type")
        .agg(F.avg(F.log(F.col("value") / F.col("xmin"))).alias("h"))
    )
    return hill.join(F.broadcast(xm), "event_type").select(
        "event_type",
        F.lit(100).cast("bigint").alias("k"),
        F.round("xmin", 6).alias("xmin"),
        F.round("h", 6).alias("hill"),
        F.round(1.0 / F.col("h"), 6).alias("alpha"),
    )


@query(
    "q_wilson_ci",
    oracle=(
        "WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "    CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) "
        "      AS s "
        "  FROM events WHERE event_type IS NOT NULL AND isfinite(value) "
        "  GROUP BY event_type), "
        "w AS (SELECT event_type, n, s, s * 1.0 / n AS p, "
        "    1.96 * 1.96 AS z2 FROM g) "
        "SELECT event_type, n, s AS successes, round(p, 6) AS p_hat, "
        "  round((p + z2 / (2 * n) - 1.96 * sqrt(p * (1 - p) / n "
        "    + z2 / (4.0 * n * n))) / (1 + z2 / n), 6) AS ci_lo, "
        "  round((p + z2 / (2 * n) + 1.96 * sqrt(p * (1 - p) / n "
        "    + z2 / (4.0 * n * n))) / (1 + z2 / n), 6) AS ci_hi "
        "FROM w"
    ),
)
def q_wilson_ci(spark, sf_dir):
    """Wilson score 95% confidence interval for a per-group proportion
    (share of events with value > 100 per event type) — the interval
    every rate dashboard should use instead of the Wald +-1.96*se,
    which collapses to zero width at p = 0 or 1 and undercovers small
    n. Closed form, no iteration, no special functions.

    Scale shape: the fact scan collapses into one |types|-row keyed
    aggregate (count + conditional sum ride together, partial combine
    map-side); the interval is pure per-row arithmetic over that tiny
    relation. NULL event_type rows (no group identity) and non-finite
    values are excluded on BOTH engines."""
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & _finite(F.col("value")))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("value") > 100, 1).otherwise(0)
            ).cast("bigint").alias("s"),
        )
    )
    p = F.col("s") * 1.0 / F.col("n")
    z = 1.96
    z2 = z * z
    n = F.col("n")
    half = z * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return g.select(
        "event_type",
        "n",
        F.col("s").alias("successes"),
        F.round(p, 6).alias("p_hat"),
        F.round((p + z2 / (2 * n) - half) / denom, 6).alias("ci_lo"),
        F.round((p + z2 / (2 * n) + half) / denom, 6).alias("ci_hi"),
    )


@query(
    "q_cramers_v",
    oracle=(
        "WITH base AS (SELECT event_type AS x, isodow(ts) AS y FROM events "
        "  WHERE event_type IS NOT NULL AND ts IS NOT NULL), "
        "cells AS (SELECT x, y, CAST(count(*) AS DOUBLE) AS o "
        "  FROM base GROUP BY 1, 2), "
        "m AS (SELECT x, y, o, sum(o) OVER (PARTITION BY x) AS rx, "
        "    sum(o) OVER (PARTITION BY y) AS cy FROM cells), "
        "tot AS (SELECT sum(o) AS n, "
        "    CAST(count(DISTINCT x) AS BIGINT) AS r, "
        "    CAST(count(DISTINCT y) AS BIGINT) AS c FROM cells), "
        "chi AS (SELECT sum((m.o - m.rx * m.cy / t.n) "
        "    * (m.o - m.rx * m.cy / t.n) / (m.rx * m.cy / t.n)) AS chi2 "
        "  FROM m, tot t) "
        "SELECT CAST(t.n AS BIGINT) AS n_events, t.r AS n_rows_cat, "
        "  t.c AS n_cols_cat, round(chi.chi2, 6) AS chi2, "
        "  round(sqrt(chi.chi2 / (t.n * (least(t.r, t.c) - 1))), 6) "
        "    AS cramers_v "
        "FROM chi, tot t"
    ),
)
def q_cramers_v(spark, sf_dir):
    """Cramer's V association strength between event type and ISO
    day-of-week — the bounded [0,1] effect size that answers 'does
    event mix depend on weekday?' independent of sample size (chi2
    alone grows with n; q_chi2_conversion gives significance, this
    gives magnitude; q_mutual_info is its information-theoretic
    sibling on the documents table).

    Scale shape: one fact-scale keyed aggregate to the |types| x 7
    cell table; margins are windows OVER that tiny relation; chi2 and
    V fold to one row. Day-of-week is pinned to ISO numbering on both
    engines (Spark weekday()+1 == DuckDB isodow, Monday=1) — engine
    default dayofweek() disagrees (Spark 1=Sunday, DuckDB 0=Sunday).
    NULL event_type / NULL ts rows carry no cell identity and are
    excluded on BOTH engines."""
    base = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("x"),
            (F.expr("weekday(ts)") + 1).alias("y"),
        )
    )
    cells = base.groupBy("x", "y").agg(
        F.count("*").cast("double").alias("o")
    )
    from pyspark.sql import Window

    m = cells.select(
        "x",
        "y",
        "o",
        F.sum("o").over(Window.partitionBy("x")).alias("rx"),
        F.sum("o").over(Window.partitionBy("y")).alias("cy"),
    )
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("x").cast("bigint").alias("r"),
        F.countDistinct("y").cast("bigint").alias("c"),
    )
    e = F.col("rx") * F.col("cy") / F.col("n")
    chi = (
        m.join(F.broadcast(tot))
        .agg(F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"))
    )
    return (
        chi.join(F.broadcast(tot))
        .select(
            F.col("n").cast("bigint").alias("n_events"),
            F.col("r").alias("n_rows_cat"),
            F.col("c").alias("n_cols_cat"),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@query(
    "q_burstiness",
    oracle=(
        "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "    CAST(count(*) AS BIGINT) AS c "
        "  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL "
        "  GROUP BY 1, 2), "
        "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, "
        "    avg(c) AS mu, stddev_samp(c) AS sd, var_samp(c) AS v "
        "  FROM daily GROUP BY event_type) "
        "SELECT event_type, n_days, round(mu, 6) AS mean_daily, "
        "  round(v / mu, 6) AS fano, "
        "  round((sd - mu) / (sd + mu), 6) AS burstiness "
        "FROM s"
    ),
)
def q_burstiness(spark, sf_dir):
    """Traffic burstiness per event type from the daily-count series:
    the Fano factor (variance/mean — 1 for a Poisson arrival process,
    >1 overdispersed) and the Goh-Barabasi burstiness coefficient
    (sd-mu)/(sd+mu) in [-1,1]. The capacity-planning / anomaly-baseline
    diagnostic that says whether per-key daily volume is steady or
    spiky — i.e. whether downstream windows need skew headroom.

    Scale shape: fact scan -> (type, day) keyed aggregate (the only
    fact-scale shuffle; partial combine absorbs almost everything) ->
    |types|-row moment aggregate over the ~30-row-per-type daily
    relation. Sample variance (n-1) on BOTH engines (var_samp /
    F.var_samp). NULL event_type / NULL ts rows have no (type, day)
    identity and are excluded on BOTH engines."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.avg("c").alias("mu"),
        F.stddev_samp("c").alias("sd"),
        F.var_samp("c").alias("v"),
    )
    return s.select(
        "event_type",
        "n_days",
        F.round("mu", 6).alias("mean_daily"),
        F.round(F.col("v") / F.col("mu"), 6).alias("fano"),
        F.round(
            (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")), 6
        ).alias("burstiness"),
    )


@query(
    "q_emd_1d",
    oracle=(
        "WITH s AS (SELECT value AS v, "
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g "
        "  FROM events WHERE event_type IN ('purchase', 'click') "
        "    AND isfinite(value)), "
        "pv AS (SELECT v, CAST(sum(g) AS BIGINT) AS c1, "
        "    CAST(count(*) - sum(g) AS BIGINT) AS c2 FROM s GROUP BY v), "
        "tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, "
        "    CAST(sum(c2) AS BIGINT) AS n2 FROM pv), "
        "cum AS (SELECT v, "
        "    CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS k1, "
        "    CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS k2, "
        "    lead(v) OVER (ORDER BY v) AS nxt FROM pv) "
        "SELECT t.n1, t.n2, "
        "  round(sum(abs(c.k1 * 1.0 / t.n1 - c.k2 * 1.0 / t.n2) "
        "    * (c.nxt - c.v)), 6) AS emd "
        "FROM cum c, tot t WHERE c.nxt IS NOT NULL GROUP BY t.n1, t.n2"
    ),
)
def q_emd_1d(spark, sf_dir):
    """1-D earth mover's distance (Wasserstein-1) between the
    'purchase' and 'click' value distributions: W1 = integral of
    |F1 - F2| dv over the pooled support — the distribution-shift
    metric in the same family as q_ks_drift (sup gap) and q_psi_drift
    (binned KL-ish), but metric-valued: it weighs HOW FAR mass moved,
    not just that it did, which makes it the right drift alarm for
    revenue-like columns.

    Scale shape: one value-keyed aggregate (the only fact-scale
    shuffle) collapses both samples into (v, c1, c2) cells; CDFs are
    a distributed prefix-sum over that relation
    (operators/ranking.py kernels — range shuffle + broadcast
    offsets); the next-value gap comes from a rank+1 self-join of the
    SAME ranked relation (no global-order single-partition window);
    the integral folds to one row. CDF steps are exact rationals;
    NULL event_type / non-finite values are excluded on BOTH
    engines."""
    from hls_stac_parquet_spark.operators.ranking import (
        with_global_cumsum,
        with_global_rank,
    )

    s = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & _finite(F.col("value"))
        )
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("g")).cast("bigint").alias("c2"),
    )
    tot = pv.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    cum = with_global_cumsum(pv, [F.col("v")], {"k1": "c1", "k2": "c2"})
    rk = materialize(with_global_rank(cum, [F.col("v")], "rn"))
    nxt = rk.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("nxt"))
    stepped = rk.join(nxt, "rn")  # inner: the max-v row has no next
    return (
        stepped.join(F.broadcast(tot))
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.round(
                F.sum(
                    F.abs(
                        F.col("k1") * 1.0 / F.col("n1")
                        - F.col("k2") * 1.0 / F.col("n2")
                    )
                    * (F.col("nxt") - F.col("v"))
                ),
                6,
            ).alias("emd"),
        )
    )


@query(
    "q_abtest_power",
    oracle=(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "  round(avg(value), 6) AS mean_value, "
        "  round(stddev_samp(value), 6) AS sd, "
        "  round((1.96 + 0.841621) * stddev_samp(value) "
        "    * sqrt(2.0 / (count(*) / 2.0)), 6) AS mde_abs, "
        "  round((1.96 + 0.841621) * stddev_samp(value) "
        "    * sqrt(2.0 / (count(*) / 2.0)) / avg(value), 6) AS mde_rel "
        "FROM events WHERE event_type IS NOT NULL AND isfinite(value) "
        "GROUP BY event_type"
    ),
)
def q_abtest_power(spark, sf_dir):
    """Minimum detectable effect (MDE) per event type for a 50/50
    two-sample test at alpha=0.05 / power=0.80: MDE =
    (z_{a/2} + z_beta) * sd * sqrt(2/m) with m = n/2 per arm — the
    experiment-sizing primitive that answers 'is this metric even
    testable at current traffic?' before anyone launches (pairs with
    q_welch_ttest / q_mann_whitney which analyze after). The two
    normal quantiles are DECLARED constants (1.96, 0.841621) on both
    engines — no inverse-CDF special function needed.

    Scale shape: one keyed aggregate (count/mean/sd ride together
    with map-side partial combine); the MDE is per-row arithmetic
    over the |types|-row result. NULL event_type rows and non-finite
    values are excluded on BOTH engines."""
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & _finite(F.col("value")))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.avg("value").alias("mu"),
            F.stddev_samp("value").alias("sd"),
        )
    )
    mde = (1.96 + 0.841621) * F.col("sd") * F.sqrt(
        2.0 / (F.col("n") / 2.0)
    )
    return g.select(
        "event_type",
        "n",
        F.round("mu", 6).alias("mean_value"),
        F.round("sd", 6).alias("sd"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("mu"), 6).alias("mde_rel"),
    )


@query(
    "q_spearman_rho",
    oracle=(
        "WITH base AS (SELECT event_type, "
        "    date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS xv, "
        "    value AS yv "
        "  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL "
        "    AND isfinite(value)), "
        "xr AS (SELECT event_type, xv, "
        "    CAST(coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY xv "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "      AS BIGINT) + (t + 1) / 2.0 AS rx "
        "  FROM (SELECT event_type, xv, CAST(count(*) AS BIGINT) AS t "
        "    FROM base GROUP BY 1, 2)), "
        "yr AS (SELECT event_type, yv, "
        "    CAST(coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY yv "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "      AS BIGINT) + (t + 1) / 2.0 AS ry "
        "  FROM (SELECT event_type, yv, CAST(count(*) AS BIGINT) AS t "
        "    FROM base GROUP BY 1, 2)) "
        "SELECT b.event_type, CAST(count(*) AS BIGINT) AS n, "
        "  round(corr(xr.rx, yr.ry), 6) AS rho "
        "FROM base b JOIN xr ON xr.event_type = b.event_type "
        "  AND xr.xv = b.xv "
        "JOIN yr ON yr.event_type = b.event_type AND yr.yv = b.yv "
        "GROUP BY b.event_type"
    ),
)
def q_spearman_rho(spark, sf_dir):
    """Spearman rank correlation between event TIME and value per
    event type — the monotone-trend detector ('is this metric
    drifting over the month?') that is immune to the heavy tails and
    outliers that wreck Pearson on revenue-like columns. rho =
    Pearson correlation of the two average-rank transforms
    (tie-corrected by construction).

    NO per-row rank windows over the fact table: like
    q_mann_whitney, ranks come from VALUE-LEVEL maps — per (type,
    distinct value): avg rank = C + (t+1)/2 with C the exclusive
    prefix count, computed by a window over the per-type DISTINCT-
    value relation (orders of magnitude smaller than the fact table,
    and partitioned by type — never a global single-partition
    window). Rows then pick up (rx, ry) through two keyed joins and
    corr() folds per type. Ranks are exact halves, so the rank maps
    are bit-identical across engines; corr is one pass of sample
    moments on both. NULL event_type / NULL ts rows and non-finite
    values are excluded on BOTH engines."""
    from pyspark.sql import Window

    base = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & _finite(F.col("value"))
        )
        .select(
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            ).alias("xv"),
            F.col("value").alias("yv"),
        )
    )

    def rank_map(col, out):
        per = base.groupBy("event_type", col).agg(
            F.count("*").cast("bigint").alias("t")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return per.select(
            "event_type",
            col,
            (
                F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint")
                + (F.col("t") + 1) / 2.0
            ).alias(out),
        )

    xr = rank_map("xv", "rx")
    yr = rank_map("yv", "ry")
    return (
        base.join(xr, ["event_type", "xv"])
        .join(yr, ["event_type", "yv"])
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.corr("rx", "ry"), 6).alias("rho"),
        )
    )


@query(
    "q_theil_index",
    oracle=(
        "WITH d AS (SELECT source, CAST(n_chars AS DOUBLE) AS x "
        "  FROM documents WHERE source IS NOT NULL AND n_chars > 0), "
        "g AS (SELECT source, CAST(count(*) AS BIGINT) AS ng, "
        "    sum(x) AS sx, sum(x * ln(x)) AS sxlx FROM d "
        "  GROUP BY source), "
        "tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sx) AS sx, "
        "    sum(sxlx) AS sxlx FROM g), "
        "parts AS (SELECT "
        "    (tot.sxlx - ln(tot.sx / tot.n) * tot.sx) / tot.sx AS t_total, "
        "    sum((g.sx / tot.sx) * ln((g.sx / g.ng) / (tot.sx / tot.n))) "
        "      AS t_between, "
        "    sum((g.sx / tot.sx) * ((g.sxlx - ln(g.sx / g.ng) * g.sx) "
        "      / g.sx)) AS t_within, "
        "    max(tot.n) AS n_docs "
        "  FROM g, tot GROUP BY tot.sxlx, tot.sx, tot.n) "
        "SELECT CAST(n_docs AS BIGINT) AS n_docs, "
        "  round(t_total, 6) AS theil_total, "
        "  round(t_between, 6) AS theil_between, "
        "  round(t_within, 6) AS theil_within FROM parts"
    ),
)
def q_theil_index(spark, sf_dir):
    """Theil T inequality index of document length, decomposed
    between/within sources — the corpus-balance diagnostic with an
    exact additive decomposition (T = T_between + T_within, which
    Gini lacks): T_between says how much of the length inequality is
    explained by which source a doc came from, T_within how much
    lives inside sources. Everything derives from three sufficient
    statistics per source (n, sum x, sum x ln x):
    T = (Σ x ln x − ln(μ)·Σx) / Σx over the relevant population.

    Scale shape: ONE fact-scale keyed aggregate (the three sums ride
    together with map-side partial combine); totals are a rollup OF
    the |sources|-row relation; the decomposition is per-row
    arithmetic + a second tiny fold. NULL-source docs carry no group
    identity and non-positive lengths have no ln; both excluded on
    BOTH engines."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & (F.col("n_chars") > 0))
        .select("source", F.col("n_chars").cast("double").alias("x"))
    )
    g = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx"),
    )
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sx").alias("tsx"),
        F.sum("sxlx").alias("tsxlx"),
    )
    j = g.join(F.broadcast(tot))
    mu = F.col("tsx") / F.col("n")
    mu_g = F.col("sx") / F.col("ng")
    t_total = (F.col("tsxlx") - F.log(mu) * F.col("tsx")) / F.col("tsx")
    t_between = F.sum((F.col("sx") / F.col("tsx")) * F.log(mu_g / mu))
    t_within = F.sum(
        (F.col("sx") / F.col("tsx"))
        * ((F.col("sxlx") - F.log(mu_g) * F.col("sx")) / F.col("sx"))
    )
    return j.groupBy("tsxlx", "tsx", "n").agg(
        t_between.alias("_tb"), t_within.alias("_tw")
    ).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(t_total, 6).alias("theil_total"),
        F.round(F.col("_tb"), 6).alias("theil_between"),
        F.round(F.col("_tw"), 6).alias("theil_within"),
    )


@query(
    "q_cohens_d",
    oracle=(
        "WITH s AS (SELECT "
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g, "
        "    value AS v "
        "  FROM events WHERE event_type IN ('purchase', 'click') "
        "    AND isfinite(value)), "
        "m AS (SELECT CAST(sum(g) AS BIGINT) AS n1, "
        "    CAST(count(*) - sum(g) AS BIGINT) AS n2, "
        "    avg(CASE WHEN g = 1 THEN v END) AS m1, "
        "    avg(CASE WHEN g = 0 THEN v END) AS m2, "
        "    var_samp(CASE WHEN g = 1 THEN v END) AS v1, "
        "    var_samp(CASE WHEN g = 0 THEN v END) AS v2 "
        "  FROM s) "
        "SELECT n1, n2, round(m1 - m2, 6) AS mean_diff, "
        "  round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) "
        "    / (n1 + n2 - 2.0)), 6) AS cohens_d, "
        "  round(((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) "
        "    / (n1 + n2 - 2.0))) "
        "    * (1 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g "
        "FROM m"
    ),
)
def q_cohens_d(spark, sf_dir):
    """Cohen's d standardized effect size (pooled-SD mean difference)
    between 'purchase' and 'click' values, plus the small-sample
    Hedges' g correction — the magnitude companion to q_welch_ttest's
    significance and q_mann_whitney's rank test: a p-value says an
    effect exists, d says whether anyone should care.

    Scale shape: the whole computation is ONE conditional aggregate
    over the filtered fact scan (both groups' count/mean/variance
    ride in a single pass via CASE inputs — no second scan, no
    shuffle beyond the 1-row fold). Sample variance on both engines.
    NULL event_type / non-finite values are excluded on BOTH
    engines."""
    s = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & _finite(F.col("value"))
        )
        .select(
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("g"),
            F.col("value").alias("v"),
        )
    )
    v1c = F.when(F.col("g") == 1, F.col("v"))
    v2c = F.when(F.col("g") == 0, F.col("v"))
    m = s.agg(
        F.sum("g").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("g")).cast("bigint").alias("n2"),
        F.avg(v1c).alias("m1"),
        F.avg(v2c).alias("m2"),
        F.var_samp(v1c).alias("v1"),
        F.var_samp(v2c).alias("v2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    pooled = F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2"))
        / (n1 + n2 - 2.0)
    )
    dd = (F.col("m1") - F.col("m2")) / pooled
    return m.select(
        "n1",
        "n2",
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round(dd, 6).alias("cohens_d"),
        F.round(dd * (1 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6).alias(
            "hedges_g"
        ),
    )


@query(
    "q_lift_curve",
    oracle=(
        "WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS score, "
        "    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y "
        "  FROM events WHERE user_id IS NOT NULL GROUP BY user_id), "
        "d AS (SELECT *, CAST(ntile(10) OVER ("
        "    ORDER BY score DESC, user_id) AS INT) AS decile FROM u), "
        "per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users, "
        "    CAST(sum(y) AS BIGINT) AS conv FROM d GROUP BY decile), "
        "tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS n, "
        "    CAST(sum(conv) AS BIGINT) AS c FROM per) "
        "SELECT p.decile, p.n_users, p.conv, "
        "  round(p.conv * 1.0 / p.n_users, 6) AS conv_rate, "
        "  round((p.conv * 1.0 / p.n_users) / (t.c * 1.0 / t.n), 6) "
        "    AS lift, "
        "  round(CAST(sum(p.conv) OVER (ORDER BY p.decile "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "      AS BIGINT) * 1.0 / t.c, 6) AS cum_capture "
        "FROM per p, tot t"
    ),
)
def q_lift_curve(spark, sf_dir):
    """Decile lift / cumulative-gains curve: rank users by a score
    (activity count as the stand-in model score), cut into score
    deciles, and report per-decile conversion rate, lift over the
    base rate, and the cumulative share of all conversions captured
    by the top-k deciles — the targeting-model evaluation readout
    next to q_auc (threshold-free) and q_pr_curve (precision/recall).

    Scale shape: the fact table collapses to ONE row per user (single
    keyed aggregate); deciles ride the distributed ntile kernel
    (operators/ranking.py::with_global_ntile — range shuffle +
    broadcast offsets, its closed form IS SQL ntile so the oracle's
    plain ntile(10) matches rank for rank, with user_id as the
    deterministic tie-breaker); everything after runs on the 10-row
    decile relation. NULL user_id rows have no unit identity and are
    excluded on BOTH engines; a NULL event_type is simply not a
    purchase."""
    from pyspark.sql import Window

    from hls_stac_parquet_spark.operators.ranking import with_global_ntile

    u = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("score"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
    )
    d = with_global_ntile(
        u, [F.desc("score"), F.col("user_id")], 10, "decile"
    )
    per = d.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("y").cast("bigint").alias("conv"),
    )
    tot = per.agg(
        F.sum("n_users").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.join(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "conv",
        F.round(F.col("conv") * 1.0 / F.col("n_users"), 6).alias(
            "conv_rate"
        ),
        F.round(
            (F.col("conv") * 1.0 / F.col("n_users"))
            / (F.col("c") * 1.0 / F.col("n")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("conv").over(w).cast("bigint") * 1.0 / F.col("c"), 6
        ).alias("cum_capture"),
    )


@query(
    "q_cohen_kappa",
    oracle=(
        "WITH r AS (SELECT "
        "    CASE WHEN n_chars > 400 THEN 1 ELSE 0 END AS a, "
        "    CASE WHEN len(string_split(lower(text), ' ')) > 80 "
        "      THEN 1 ELSE 0 END AS b "
        "  FROM documents WHERE text IS NOT NULL), "
        "cells AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS o "
        "  FROM r GROUP BY a, b), "
        "m AS (SELECT a, b, o, sum(o) OVER (PARTITION BY a) AS ra, "
        "    sum(o) OVER (PARTITION BY b) AS cb FROM cells), "
        "tot AS (SELECT sum(o) AS n FROM cells), "
        "agg AS (SELECT "
        "    sum(CASE WHEN m.a = m.b THEN m.o ELSE 0 END) / max(t.n) AS po, "
        "    sum(CASE WHEN m.a = m.b THEN m.ra * m.cb ELSE 0 END) "
        "      / (max(t.n) * max(t.n)) AS pe, "
        "    CAST(max(t.n) AS BIGINT) AS n FROM m, tot t) "
        "SELECT n AS n_docs, round(po, 6) AS p_observed, "
        "  round(pe, 6) AS p_expected, "
        "  round((po - pe) / (1 - pe), 6) AS kappa FROM agg"
    ),
)
def q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa chance-corrected agreement between two raters —
    the inter-annotator / LLM-judge reliability primitive next to
    q_ece_calibration and q_conformal_threshold: raw percent
    agreement overstates reliability when label marginals are skewed;
    kappa = (p_o - p_e)/(1 - p_e) corrects by the agreement two
    independent raters with these marginals would reach by chance.
    The two raters here are DECLARED derived labels (char-length >
    400 vs token-count > 80 — correlated doc-quality heuristics
    standing in for judge outputs); real pipelines swap in their
    judge columns.

    Scale shape: one fact-scale keyed aggregate to the 2x2 (or kxk —
    nothing assumes binary) confusion cells; marginals are windows
    OVER that tiny relation; kappa folds to one row. NULL-text docs
    have no rating and are excluded on BOTH engines."""
    from pyspark.sql import Window

    r = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.when(F.col("n_chars") > 400, 1).otherwise(0).alias("a"),
            F.when(
                F.size(F.split(F.lower(F.col("text")), " ")) > 80, 1
            )
            .otherwise(0)
            .alias("b"),
        )
    )
    cells = r.groupBy("a", "b").agg(F.count("*").cast("double").alias("o"))
    m = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("ra"),
        F.sum("o").over(Window.partitionBy("b")).alias("cb"),
    )
    tot = cells.agg(F.sum("o").alias("n"))
    agg = m.join(F.broadcast(tot)).agg(
        (
            F.sum(F.when(F.col("a") == F.col("b"), F.col("o")).otherwise(0.0))
            / F.max("n")
        ).alias("po"),
        (
            F.sum(
                F.when(
                    F.col("a") == F.col("b"), F.col("ra") * F.col("cb")
                ).otherwise(0.0)
            )
            / (F.max("n") * F.max("n"))
        ).alias("pe"),
        F.max("n").cast("bigint").alias("n_docs"),
    )
    return agg.select(
        "n_docs",
        F.round("po", 6).alias("p_observed"),
        F.round("pe", 6).alias("p_expected"),
        F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6).alias(
            "kappa"
        ),
    )
