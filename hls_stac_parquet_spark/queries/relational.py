"""Relational core operators (SURVEY.md §2.B, phase 1).

Pure built-in DataFrame expressions — every query here compiles to a
single Catalyst plan with pushed-down filters, pruned columns, and
whole-stage codegen; no Python executes per row. Each has an exact
DuckDB oracle.

Oracle-parity discipline (SURVEY.md §7 traps):
- every computed column aliased identically on both sides
- nondeterministic picks (first/arbitrary) replaced by ordered
  window / min_by with explicit tiebreakers
- double aggregates rounded identically on both sides (summation
  order differs between engines)
- arrays built by collect_list sorted before compare
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hls_stac_parquet_spark.queries.registry import query, t


# --- scans / filters / scalar functions -------------------------------

@query(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def q_scan_project(spark, sf_dir):
    """Scan + projection (A1/A6): column pruning reaches the parquet
    reader — ReadSchema carries only the 3 columns."""
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@query(
    "q_filter_eq",
    oracle=(
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_mktsegment = 'BUILDING'"
    ),
)
def q_filter_eq(spark, sf_dir):
    """Equality predicate (A2) — pushed to the parquet scan."""
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "q_filter_range_numeric",
    oracle=(
        "SELECT p_partkey, p_size, p_retailprice FROM part "
        "WHERE p_size BETWEEN 10 AND 20 "
        "AND p_retailprice BETWEEN 500.0 AND 1500.0"
    ),
)
def q_filter_range_numeric(spark, sf_dir):
    """2-D numeric range predicate — the bbox filter shape (A3)."""
    return (
        t(spark, sf_dir, "part")
        .filter(
            F.col("p_size").between(10, 20)
            & F.col("p_retailprice").between(500.0, 1500.0)
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


@query(
    "q_filter_ts_range",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01'"
    ),
)
def q_filter_ts_range(spark, sf_dir):
    """Temporal range predicate (A4/A5) — the reference's day-window
    filter generalized; pushed down as parquet min/max pruning."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@query(
    "q_regexp_extract",
    oracle=(
        "SELECT p_partkey, regexp_extract(p_name, '^([a-z]+)', 1) AS first_word "
        "FROM part"
    ),
)
def q_regexp_extract(spark, sf_dir):
    """Regex group extraction (A14 — MGRS-from-URL analog)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey", F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word")
    )


@query(
    "q_string_funcs",
    oracle=(
        "SELECT doc_id, lower(source) AS src_lower, "
        "substring(text, 1, 10) AS prefix10, "
        "starts_with(text, 'key') AS starts_key, "
        "ends_with(source, '0') AS ends_zero, "
        "lang || '/' || source AS lang_source "  # `||` not concat():
        # DuckDB concat() skips NULL args where Spark's (and ANSI ||)
        # propagate — the engine declares NULL-propagating semantics
        "FROM documents"
    ),
)
def q_string_funcs(spark, sf_dir):
    """String scalar functions (A6 link-filter building blocks)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower("source").alias("src_lower"),
        F.substring("text", 1, 10).alias("prefix10"),
        F.col("text").startswith("key").alias("starts_key"),
        F.col("source").endswith("0").alias("ends_zero"),
        F.concat(F.col("lang"), F.lit("/"), F.col("source")).alias("lang_source"),
    )


@query(
    "q_date_funcs",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(year(o_orderdate) AS INT) AS o_year, "
        "CAST(month(o_orderdate) AS INT) AS o_month, "
        "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start, "
        "CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) "
        "AS days_since FROM orders"
    ),
)
def q_date_funcs(spark, sf_dir):
    """Date/time scalar functions (A5 day-window, A22 date-range)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@query(
    "q_math_funcs",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "CAST(floor(l_extendedprice) AS BIGINT) AS price_floor, "
        "least(l_quantity, 25.0) AS qty_capped, "
        "greatest(l_discount, l_tax) AS max_rate, "
        "abs(l_discount - l_tax) AS rate_gap, "
        # round to 4: price(2dp) × discount-complement(2dp) is exactly
        # 4-decimal, so 4dp rounding never sits on a half boundary
        # (2dp does, and Spark HALF_UP vs DuckDB diverge there)
        "round(l_extendedprice * (1 - l_discount), 4) AS disc_price "
        "FROM lineitem"
    ),
)
def q_math_funcs(spark, sf_dir):
    """Math scalar functions — the grid-clamp arithmetic shape (A16)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").alias("price_floor"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_capped"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.abs(F.col("l_discount") - F.col("l_tax")).alias("rate_gap"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "disc_price"
        ),
    )


# --- arrays / JSON ------------------------------------------------------

@query(
    "q_explode_array",
    oracle="SELECT vec_id, unnest(embedding) AS component FROM embeddings",
)
def q_explode_array(spark, sf_dir):
    """Array explode / manifest fan-in shape (A12)."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", F.explode("embedding").alias("component")
    )


@query(
    "q_array_funcs",
    oracle=(
        "SELECT vec_id, CAST(len(embedding) AS INT) AS dim, "
        "embedding[1] AS first_component, "
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive "
        "FROM embeddings"
    ),
)
def q_array_funcs(spark, sf_dir):
    """Array scalar + higher-order functions (A6 link-array scan)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_component"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "q_json_funcs",
    oracle=(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val "
        "FROM events"
    ),
)
def q_json_funcs(spark, sf_dir):
    """JSON scalar extraction over events.props (D1/D3 analog)."""
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


# --- aggregation ---------------------------------------------------------

@query(
    "q_hash_agg",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, "
        "round(avg(l_quantity), 6) AS avg_qty, "
        "round(avg(l_extendedprice), 6) AS avg_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
)
def q_hash_agg(spark, sf_dir):
    """TPC-H Q1-shaped hash aggregate — the flagship query.

    Partial (map-side) aggregation + 6-group final: the cheapest
    possible shuffle shape; survives any scale-up because group
    cardinality is constant.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark, sf_dir):
    """DISTINCT (A13 set-semantics building block)."""
    return t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query("q_count_distinct_approx", oracle=None)  # HLL sketches differ per engine
def q_count_distinct_approx(spark, sf_dir):
    """approx_count_distinct — sketch-based distinct at scale.

    rows-only check (HyperLogLog estimates are engine-specific), but
    self-evidencing since round 5: the exact distinct rides along as
    a diagnostic with a 5% accuracy flag (approx_count_distinct's
    default rsd is 5%; measured well inside; flag asserted in
    tests/test_sketches.py). At 100 TB you drop the exact column —
    it is the rescan the sketch avoids.
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .withColumn(
            "est_within_5pct",
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users"),
        )
    )


@query(
    "q_grouping_sets",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
        "CAST(month(o_orderdate) AS INT) AS o_month, "
        "count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price "
        "FROM orders GROUP BY ROLLUP (o_year, o_month)"
    ),
)
def q_grouping_sets(spark, sf_dir):
    """ROLLUP aggregate — partition-stats shape for the D4 sink."""
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        "o_totalprice",
    )
    return o.rollup("o_year", "o_month").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "q_collect_list_group",
    oracle=(
        "SELECT l_orderkey, "
        "array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers "
        "FROM lineitem GROUP BY l_orderkey"
    ),
)
def q_collect_list_group(spark, sf_dir):
    """Group → array (A10 manifest build). Arrays sorted for the
    order-insensitive manifest semantics the reference tests use
    (tests/test_workflow.py:49-51). Emitted as a canonical
    comma-joined scalar: array columns break the correctness
    harness's pandas canonicalizer (unhashable list), and the
    string form carries identical information for hashing."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("l_linenumber"))
            ).alias("linenumbers")
        )
    )


@query(
    "q_first_match_per_group",
    oracle=(
        "SELECT o_custkey, o_orderkey AS first_orderkey, "
        "o_orderdate AS first_orderdate FROM orders "
        "QUALIFY row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1"
    ),
)
def q_first_match_per_group(spark, sf_dir):
    """Per-group first match (A6 first-stac-link), made deterministic
    with an explicit (date, key) order — `first()` without order is a
    correctness bug at any scale."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


@query(
    "q_pivot",
    oracle=(
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
        "count(*) FILTER (WHERE event_type = 'click') AS click, "
        "count(*) FILTER (WHERE event_type = 'view') AS view, "
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, "
        "count(*) FILTER (WHERE event_type = 'signup') AS signup, "
        "count(*) FILTER (WHERE event_type = 'error') AS error "
        "FROM events WHERE ts IS NOT NULL GROUP BY day"
    ),
)
def q_pivot(spark, sf_dir):
    """Pivot — reporting extension; explicit value list avoids the
    extra distinct-values job Spark otherwise runs. NULL-ts events
    belong to no day and are excluded on BOTH engines (round-6
    key-fuzz discipline)."""
    kinds = ["click", "view", "purchase", "signup", "error"]
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    p = e.groupBy("day").pivot("event_type", kinds).count()
    # pivot-count yields NULL for empty cells; oracle FILTER yields 0
    return p.select(
        "day", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


# --- joins ----------------------------------------------------------------

@query(
    "q_join_inner_hash",
    oracle=(
        "SELECT n_name, count(*) AS n_orders, "
        "round(sum(o_totalprice), 2) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    ),
)
def q_join_inner_hash(spark, sf_dir):
    """Equi inner join chain with broadcast dims.

    nation (25 rows) is explicitly broadcast; customer is small enough
    for AQE/broadcast threshold at test scale but shuffle-joins at
    100 TB — exactly the right behavior switch, left to Catalyst.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_join_left_anti",
    oracle=(
        "SELECT c_custkey, c_name FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderdate < TIMESTAMP '1996-01-01')"
    ),
)
def q_join_left_anti(spark, sf_dir):
    """Anti join ≡ the reference's skip-existing guard (A9): work
    units minus already-done outputs. The date filter keeps the
    result non-trivial (every customer has *some* order)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_left_semi",
    oracle=(
        "SELECT c_custkey, c_name FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey AND o_orderstatus = 'O')"
    ),
)
def q_join_left_semi(spark, sf_dir):
    """Semi join — A9's dual (keep only work units with inputs)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_outer",
    oracle=(
        "SELECT c_custkey, n_orders FROM ("
        "SELECT c_custkey, count(o_orderkey) AS n_orders "
        "FROM customer FULL OUTER JOIN "
        "(SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01') o "
        "ON c_custkey = o_custkey "
        "GROUP BY c_custkey) WHERE n_orders = 0 OR c_custkey IS NULL"
    ),
)
def q_join_outer(spark, sf_dir):
    """Full outer join + null probe — the completeness check shape
    (A13): entities on either side with no partner."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .filter((F.col("n_orders") == 0) | F.col("c_custkey").isNull())
    )


@query(
    "q_join_range",
    oracle=(
        "WITH windows AS ("
        "SELECT unnest(generate_series(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-31', INTERVAL 6 HOUR)) AS win_start) "
        "SELECT win_start, count(*) AS n_events, "
        "round(sum(value), 2) AS sum_value "
        "FROM windows JOIN events ON ts >= win_start "
        "AND ts < win_start + INTERVAL 6 HOUR "
        "GROUP BY win_start"
    ),
)
def q_join_range(spark, sf_dir):
    """Non-equi (range) join — events × time windows (A3 spatial-range
    analog), bucketized into an equi-join: each interval explodes into
    the fixed-grid buckets it overlaps, events map to exactly one
    bucket, and a broadcast HASH join on the bucket key replaces the
    O(|events|·|windows|) nested loop; the true range predicate runs
    as a residual filter on the few bucket-colliding pairs. This is
    the interval-join plan that survives 100 TB — probe cost is
    O(|events|), independent of window count.
    """
    bucket_us = 6 * 3600 * 1000_000  # grid = the window stride
    epoch_us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {})"
    e = t(spark, sf_dir, "events").withColumn(
        "bucket", F.expr(epoch_us.format("ts") + f" div {bucket_us}")
    )
    windows = spark.sql(
        "SELECT explode(sequence(timestamp_ntz'2024-01-01', "
        "timestamp_ntz'2024-01-31', interval 6 hours)) AS win_start"
    ).withColumn(
        # buckets overlapped by [win_start, win_start + 6h): closed-open,
        # so the last covered µs is start + 6h - 1µs. For this aligned
        # grid each window covers one bucket; the explode generalizes to
        # arbitrary (unaligned, variable-width) intervals unchanged.
        "bucket",
        F.explode(
            F.sequence(
                F.expr(epoch_us.format("win_start") + f" div {bucket_us}"),
                F.expr(
                    "("
                    + epoch_us.format("win_start + interval 6 hours")
                    + f" - 1) div {bucket_us}"
                ),
            )
        ),
    )
    return (
        F.broadcast(windows)
        .join(
            e,
            (windows.bucket == e.bucket)
            & (e.ts >= windows.win_start)
            & (e.ts < windows.win_start + F.expr("interval 6 hours")),
        )
        .groupBy("win_start")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- set operations ---------------------------------------------------------

@query(
    "q_set_except",
    oracle=(
        "SELECT CAST(unnest(generate_series(DATE '2024-01-01', "
        "DATE '2024-02-14', INTERVAL 1 DAY)) AS DATE) AS day "
        "EXCEPT SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day "
        "FROM events"
    ),
)
def q_set_except(spark, sf_dir):
    """EXCEPT — the completeness gate's expected-minus-actual set
    (A13, write.py:172-202): generated day range minus observed days."""
    expected = spark.sql(
        "SELECT explode(sequence(date'2024-01-01', date'2024-02-14', "
        "interval 1 day)) AS day"
    )
    actual = (
        t(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
    )
    return expected.exceptAll(actual)


@query(
    "q_set_union_intersect",
    oracle=(
        "(SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer "
        "UNION SELECT CAST(s_nationkey AS INT) FROM supplier) "
        "INTERSECT SELECT n_nationkey FROM nation"
    ),
)
def q_set_union_intersect(spark, sf_dir):
    """UNION + INTERSECT — manifest fan-in set semantics (A12)."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    n = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    return c.union(s).distinct().intersect(n)


# --- sort / top-k / windows ---------------------------------------------

@query(
    "q_topk",
    oracle=(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"
    ),
)
def q_topk(spark, sf_dir):
    """Top-k: orderBy+limit compiles to TakeOrderedAndProject — a
    per-partition heap + driver merge, no global sort. Tiebreak on key
    keeps the row SET deterministic across engines."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_sort_global",
    oracle=None,  # set below (built from the shared Morton generator)
)
def q_sort_global(spark, sf_dir):
    """Global total order by a derived space-filling-curve key
    (A16/A17): rank materializes the order so the oracle can verify
    it value-wise despite order-insensitive hashing. Ranks are
    assigned by the distributed range-partition + prefix-offset
    kernel (operators/ranking.py) — the same mechanism Spark's own
    global sort uses, never a single-partition window."""
    from hls_stac_parquet_spark.functions.spatial import morton_key
    from hls_stac_parquet_spark.operators.ranking import with_global_rank

    e = t(spark, sf_dir, "events").select(
        "event_id",
        morton_key(F.col("user_id") % 256, F.col("event_id") % 256).alias("z_key"),
    )
    # checkpoint=False: the input is a scan projection (morton key is
    # a cheap bit-interleave expression) — re-scanning for the range
    # sample beats the materialization barrier (r8)
    ranked = with_global_rank(
        e, [F.col("z_key"), F.col("event_id")], "z_rank", checkpoint=False
    )
    return ranked.withColumn("z_rank", F.col("z_rank").cast("int"))


def _sort_global_oracle() -> str:
    from hls_stac_parquet_spark.functions.spatial import morton_key_sql

    z = morton_key_sql("user_id % 256", "event_id % 256", dialect="duckdb")
    # NULLS FIRST pins DuckDB to Spark's ascending default: a NULL
    # user_id yields a NULL z_key, and the range-partition kernel
    # sorts it first (round-6 key-fuzz sweep)
    return (
        f"SELECT event_id, {z} AS z_key, "
        "CAST(row_number() OVER (ORDER BY z_key NULLS FIRST, event_id) "
        "AS INT) AS z_rank "
        "FROM events"
    )


@query(
    "q_window_rank",
    oracle=(
        "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk "
        "FROM orders) WHERE rnk <= 3"
    ),
)
def q_window_rank(spark, sf_dir):
    """Ranking window — dedup-keep-best shape."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "q_window_analytic",
    oracle=(
        "SELECT event_id, user_id, "
        "round(value - coalesce(lag(value) OVER w, value), 6) AS delta_value, "
        "round(sum(value) OVER (PARTITION BY user_id "
        "ORDER BY ts NULLS LAST, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value "
        "FROM events WINDOW w AS (PARTITION BY user_id "
        "ORDER BY ts NULLS LAST, event_id)"
    ),
)
def q_window_analytic(spark, sf_dir):
    """Analytic window (lag + running sum) — time-series extension.
    NULL-ts rows sort AFTER all timed rows on BOTH engines (pinned
    NULLS LAST; Spark's ascending default is NULLS FIRST, DuckDB's is
    NULLS LAST — round-6 key-fuzz sweep)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")), 6
        ).alias("delta_value"),
        F.round(F.sum("value").over(frame), 6).alias("running_value"),
    )


# late-bind the generated oracle (keeps the generator single-sourced)
from hls_stac_parquet_spark.queries.registry import REGISTRY as _R  # noqa: E402
import dataclasses as _dc  # noqa: E402

_R["q_sort_global"] = _dc.replace(_R["q_sort_global"], oracle=_sort_global_oracle())


# --- unpivot / distribution windows / subqueries / sampling -----------

@query(
    "q_unpivot",
    oracle=(
        "WITH a AS (SELECT l_returnflag, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_price, "
        "round(sum(l_discount), 4) AS sum_disc "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM a "
        "UNION ALL "
        "SELECT l_returnflag, 'sum_price', sum_price FROM a "
        "UNION ALL "
        "SELECT l_returnflag, 'sum_disc', sum_disc FROM a"
    ),
)
def q_unpivot(spark, sf_dir):
    """Wide→long unpivot (melt) of per-group measures — the inverse of
    q_pivot. Spark's UNPIVOT compiles to Expand (one pass, no join/
    union re-scan — at scale this beats the UNION ALL formulation the
    oracle uses by a factor of n_measures in scan volume)."""
    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum("l_discount"), 4).alias("sum_disc"),
        )
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "val"
    )


@query(
    "q_ntile",
    oracle=(
        "SELECT c_custkey, c_mktsegment, "
        "CAST(ntile(4) OVER w AS INT) AS quartile, "
        "round(percent_rank() OVER w, 6) AS pct_rank, "
        "round(cume_dist() OVER w, 6) AS cum_dist "
        "FROM customer WINDOW w AS "
        "(PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)"
    ),
)
def q_ntile(spark, sf_dir):
    """Distribution window functions (ntile/percent_rank/cume_dist) —
    quantile bucketing per segment; unique (acctbal, custkey) ordering
    keeps every rank engine-portable."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "q_subquery_in",
    oracle=(
        "SELECT p_partkey, p_name FROM part WHERE p_partkey IN "
        "(SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)"
    ),
)
def q_subquery_in(spark, sf_dir):
    """Uncorrelated IN subquery — Catalyst rewrites it to a left-semi
    join (RewritePredicateSubquery), same physical plan as
    q_join_left_semi; exercises the SQL-surface path via spark.sql."""
    t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        "SELECT p_partkey, p_name FROM v_part WHERE p_partkey IN "
        "(SELECT l_partkey FROM v_lineitem WHERE l_quantity >= 49)"
    )


@query(
    "q_subquery_exists",
    oracle=(
        "SELECT c_custkey, c_name FROM customer c "
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > 300000) "
        "AND c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer)"
    ),
)
def q_subquery_exists(spark, sf_dir):
    """Correlated EXISTS + scalar subquery in one predicate — the two
    remaining subquery rewrites (semi-join pullout + scalar broadcast).
    The scalar avg is rounded identically on both engines before the
    comparison so boundary rows can't diverge."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        "SELECT c_custkey, c_name FROM v_customer c "
        "WHERE EXISTS (SELECT 1 FROM v_orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > 300000) "
        "AND c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM v_customer)"
    )


@query(
    "q_sample_hash",
    oracle=(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')"
    ),
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~12.5% sample (2/16 of the md5-hex keyspace) —
    reproducible sampling for eval splits and data audits; unlike
    TABLESAMPLE it is partition-layout-independent, so the same rows
    are selected on any cluster at any parallelism."""
    o = t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin("0", "1")
    )


@query(
    "q_mode",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM ("
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, "
        "row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY count(*) DESC, o_orderpriority) AS rn "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority) WHERE rn = 1"
    ),
)
def q_mode(spark, sf_dir):
    """Deterministic per-group mode: count + ranked pick with a value
    tiebreak (built-in mode() is tie-nondeterministic across engines).
    Two-level aggregate: the count groupBy shrinks the data to
    |groups × values| before the window ranks it."""
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), "o_orderpriority"
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "cnt"
        )
    )


@query(
    "q_histogram",
    oracle=(
        "SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket, "
        "count(*) AS n, round(min(o_totalprice), 2) AS lo, "
        "round(max(o_totalprice), 2) AS hi "
        "FROM orders GROUP BY 1"
    ),
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram (width_bucket analog) via floor-division
    bucketing — a single partial-aggregated groupBy; bucket count is
    data-range-bound, so the shuffle is O(buckets) regardless of
    table size."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --- ordered string agg / conditional agg / cube / range frames -------

@query(
    "q_string_agg",
    oracle=(
        "SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers "
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY n_name"
    ),
)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg): per-nation supplier roster.
    collect_list is order-nondeterministic after a shuffle, so the
    array is sorted before concat — same discipline as the oracle's
    ORDER BY inside string_agg. Nation side broadcasts (25 rows)."""
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias(
                "suppliers"
            )
        )
    )


@query(
    "q_conditional_agg",
    oracle=(
        "SELECT o_orderstatus, "
        "count(*) FILTER (WHERE o_totalprice > 200000) AS n_big, "
        "round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) "
        "AS urgent_total, "
        "round(avg(o_totalprice) FILTER (WHERE year(o_orderdate) = 1997), 6) "
        "AS avg_1997 "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def q_conditional_agg(spark, sf_dir):
    """Conditional aggregates (SQL FILTER clause ≡ count_if/sum(when)):
    three differently-filtered measures in ONE pass over orders — the
    idiom that replaces three separate filtered scans; partial
    aggregation keeps the shuffle at |groups| rows."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.round(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))),
            2,
        ).alias("urgent_total"),
        F.round(
            F.avg(F.when(F.year("o_orderdate") == 1997, F.col("o_totalprice"))), 6
        ).alias("avg_1997"),
    )


@query(
    "q_cube",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, "
        "count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    ),
)
def q_cube(spark, sf_dir):
    """CUBE aggregate with grouping_id — all 2^2 grouping-set
    combinations in one Expand pass (the q_grouping_sets rollup's
    full-lattice sibling); gid disambiguates which NULLs are
    subtotal markers vs data."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


@query(
    "q_window_range_frame",
    oracle=(
        "SELECT event_id, user_id, "
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 6) "
        "AS rolling_1h "
        "FROM events WHERE ts IS NOT NULL"
    ),
)
def q_window_range_frame(spark, sf_dir):
    """Value-based (RANGE) window frame: per-user rolling 1-hour sum —
    the time-series primitive row-based frames can't express when
    events are irregularly spaced. Spark's rangeBetween needs a
    numeric ordering key, so ts (TIMESTAMP_NTZ) is projected to epoch
    microseconds via timestampdiff — full precision, so the closed
    frame [-3600s, 0] includes exactly the rows the oracle's
    INTERVAL RANGE does (ties at the boundary included). NULL-ts rows
    have no RANGE position and are excluded on BOTH engines (round-6
    key-fuzz discipline)."""
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
        )
        .rangeBetween(-3600 * 1000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("rolling_1h"),
    )


@query(
    "q_stratified_sample",
    oracle=(
        "SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < "
        "CASE WHEN c_mktsegment = 'BUILDING' THEN '80' ELSE '1a' END"
    ),
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: ~50% of the BUILDING segment,
    ~10% of every other stratum, selected by an md5 keyspace slice —
    per-stratum rates without a shuffle (pure filter, pushable), and
    partition-layout-independent unlike TABLESAMPLE, so eval splits
    are reproducible on any cluster. ('80'/256 ≈ 50%, '1a'/256 ≈ 10%
    of the first-byte hex space.)"""
    c = t(spark, sf_dir, "customer")
    threshold = F.when(
        F.col("c_mktsegment") == "BUILDING", F.lit("80")
    ).otherwise(F.lit("1a"))
    return c.select("c_custkey", "c_mktsegment").filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) < threshold
    )


@query(
    "q_shuffle_order",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(row_number() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)), "
        "o_orderkey) AS INT) AS shuffle_pos "
        "FROM orders"
    ),
)
def q_shuffle_order(spark, sf_dir):
    """Deterministic pseudo-random global ordering (training-data
    shuffle): position = rank in md5-hash order. Reproducible across
    engines/cluster layouts, unlike rand()-based shuffles. Positions
    are assigned per-range-partition with broadcast prefix-offset
    ranks (operators/ranking.py) — a total order without a
    single-partition global window."""
    from hls_stac_parquet_spark.operators.ranking import with_global_rank

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.md5(F.col("o_orderkey").cast("string")).alias("_h")
    )
    ranked = with_global_rank(o, [F.col("_h"), F.col("o_orderkey")], "_pos")
    return ranked.select(
        "o_orderkey", F.col("_pos").cast("int").alias("shuffle_pos")
    )


@query(
    "q_upsert_merge",
    oracle=(
        "WITH updates AS (SELECT o_orderkey, o_orderstatus, "
        "round(o_totalprice + 10.0, 2) AS o_totalprice FROM orders "
        "WHERE o_orderkey % 10 = 0), "
        "base AS (SELECT o_orderkey, o_orderstatus, "
        "round(o_totalprice, 2) AS o_totalprice FROM orders "
        "WHERE o_orderkey % 7 <> 0) "
        "SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey, "
        "coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus, "
        "coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice, "
        "CASE WHEN b.o_orderkey IS NULL THEN 'insert' "
        "WHEN u.o_orderkey IS NULL THEN 'keep' ELSE 'update' END AS action "
        "FROM base b FULL OUTER JOIN updates u USING (o_orderkey)"
    ),
)
def q_upsert_merge(spark, sf_dir):
    """MERGE/upsert semantics as a pure DataFrame plan: base ∪ updates
    with update-wins conflict resolution and a per-row action tag —
    the row-level generalization of the reference's file-level
    skip-existing guard (A9, links.py:100-103). One full-outer
    shuffle join on the key; in a lakehouse deployment the same plan
    IS what Delta/Iceberg MERGE compiles to (plus file rewrite
    planning). The synthetic split: updates = keys %10==0 (10%,
    price bumped by a flat 10.0 — additive so no new decimal places
    appear and rounding stays engine-portable), base = keys %7!=0 — so all three actions occur."""
    o = t(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    u, b = updates.alias("u"), base.alias("b")
    joined = b.join(u, ["o_orderkey"], "full_outer")
    return joined.select(
        "o_orderkey",
        F.coalesce("u.o_orderstatus", "b.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("u.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
        F.when(F.col("b.o_orderstatus").isNull(), "insert")
        .when(F.col("u.o_orderstatus").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


# --- CDC keep-latest / star joins / funnel ----------------------------

@query(
    "q_keep_latest",
    oracle=(
        "SELECT o_custkey, o_orderkey AS latest_orderkey, "
        "o_orderdate AS latest_date FROM ("
        "SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC"
        ") AS rn FROM orders) WHERE rn = 1"
    ),
)
def q_keep_latest(spark, sf_dir):
    """CDC compaction idiom: keep the most recent record per key
    (latest order per customer). Window rank-1 with a (date, key)
    DESC tiebreak — deterministic where dropDuplicates is not; at
    scale this is the standard change-log → snapshot collapse, one
    shuffle on the key."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_date"),
        )
    )


@query(
    "q_tpch_q3",
    oracle=(
        "SELECT l_orderkey, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "o_orderdate, o_orderpriority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1997-06-15' "
        "AND l_shipdate > TIMESTAMP '1997-06-15' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    ),
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority): the canonical 3-way selective
    star join. Both filters reach their parquet scans (PushedFilters);
    the filtered customer side is small enough that AQE broadcasts it
    into orders, and the final top-10 is a TakeOrdered — no global
    sort of the aggregate."""
    cutoff = "1997-06-15"
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=(
        "SELECT n_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY n_name"
    ),
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): six-table star join with a
    correlated customer-supplier nation constraint. region/nation are
    broadcast dims; Catalyst reorders the join tree and pushes the
    region and date filters to the scans — the query that shows join
    planning working end to end."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_funnel",
    oracle=(
        "WITH first_view AS (SELECT user_id, min(ts) AS t_view FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "first_purchase AS (SELECT user_id, min(ts) AS t_buy FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id) "
        "SELECT v.user_id, v.t_view, p.t_buy, "
        "CASE WHEN p.t_buy > v.t_view THEN 1 ELSE 0 END AS converted "
        "FROM first_view v LEFT JOIN first_purchase p USING (user_id)"
    ),
)
def q_funnel(spark, sf_dir):
    """Two-step conversion funnel (view → later purchase) — the event-
    analytics staple. Two filtered min-aggregates (each fully partial,
    shuffling one row per user) and one left join on user_id; no
    window over raw events, so the plan scales with |users|, not
    |events|."""
    e = t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    return fv.join(fp, "user_id", "left").select(
        "user_id",
        "t_view",
        "t_buy",
        F.when(F.col("t_buy") > F.col("t_view"), 1).otherwise(0).alias("converted"),
    )


@query(
    "q_retention_cohorts",
    oracle=(
        "WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL), "
        "cohort AS (SELECT user_id, min(date_trunc('day', ts)) AS c0 "
        "FROM ev GROUP BY user_id) "
        "SELECT CAST(c.c0 AS TIMESTAMP) AS cohort_day, "
        "CAST(datediff('day', c.c0, date_trunc('day', e.ts)) AS BIGINT) "
        "AS day_offset, count(DISTINCT e.user_id) AS n_active "
        "FROM ev e JOIN cohort c USING (user_id) "
        "GROUP BY 1, 2"
    ),
)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day, then
    distinct-active counts per (cohort, day-offset) cell. The cohort
    dim is one row per user (first groupBy shuffles user ids only)
    and joins back user-keyed; the matrix aggregate shuffles one row
    per (cohort, offset, user) — partial-deduped map-side. NULL-ts
    events have no cohort position and are excluded on BOTH engines
    (round-6 key-fuzz discipline)."""
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cohort = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("c0")
    )
    return (
        e.join(cohort, "user_id")
        .groupBy(
            F.col("c0").alias("cohort_day"),
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("c0"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "q_zscore_outliers",
    oracle=(
        "SELECT event_id, user_id, event_type, round(z, 4) AS zscore FROM ("
        "SELECT event_id, user_id, event_type, "
        "(value - avg(value) OVER (PARTITION BY event_type)) / "
        "nullif(stddev_samp(value) OVER (PARTITION BY event_type), 0.0) AS z "
        "FROM events WHERE isfinite(value)) WHERE abs(z) > 3.0"
    ),
)
def q_zscore_outliers(spark, sf_dir):
    """Per-group z-score anomaly filter: events whose value sits more
    than 3σ from their type's mean. Unbounded analytic windows over
    |event_type| groups — Spark computes the two moments in one pass
    per partition; the scale form pre-aggregates (type → mean, std)
    into a 5-row broadcast dim instead of a window, same result.
    Non-finite values are excluded on both engines (one Inf poisons
    the whole group's moments; DuckDB raises, Spark NaN-poisons —
    the declared dirty-float semantic)."""
    from hls_stac_parquet_spark.queries.registry import finite

    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev_samp("value").over(w), F.lit(0.0)
    )
    return (
        t(spark, sf_dir, "events")
        .filter(finite(F.col("value")))
        .select("event_id", "user_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "user_id", "event_type", F.round("z", 4).alias("zscore"))
    )


@query(
    "q_missing_days",
    oracle=(
        "WITH purch AS (SELECT ts FROM events WHERE event_type = 'purchase'), "
        "bounds AS (SELECT min(date_trunc('hour', ts)) AS lo, "
        "max(date_trunc('hour', ts)) AS hi FROM purch), "
        "expected AS (SELECT unnest(generate_series(lo, hi, "
        "INTERVAL 1 HOUR)) AS hr FROM bounds), "
        "actual AS (SELECT DISTINCT date_trunc('hour', ts) AS hr FROM purch) "
        "SELECT CAST(e.hr AS TIMESTAMP) AS missing_hour FROM expected e "
        "LEFT JOIN actual a USING (hr) WHERE a.hr IS NULL"
    ),
)
def q_missing_days(spark, sf_dir):
    """Completeness gap detection — the reference's expected-vs-actual
    manifest gate (A13, write.py:172-202) generalized to any time
    series: hours in the observed range with zero purchase events.
    Expected hours are generated from the bounds aggregate, actual
    hours anti-joined away. Both anti-join sides are hour-grained
    (tiny at any scale); only the distinct-hour aggregate touches the
    raw table, fully partial, behind a pushed event_type filter."""
    purch = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bounds = purch.agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("lo"),
        F.max(F.date_trunc("hour", F.col("ts"))).alias("hi"),
    )
    expected = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    actual = purch.select(F.date_trunc("hour", F.col("ts")).alias("hr")).distinct()
    return expected.join(actual, "hr", "left_anti").select(
        F.col("hr").alias("missing_hour")
    )


@query(
    "q_lateral_topn",
    oracle=(
        "SELECT c.c_custkey, o.o_orderkey, o.o_totalprice "
        "FROM customer c, LATERAL (SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_custkey = c.c_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o"
    ),
)
def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery — top-2 orders per customer via the
    SQL-standard lateral form. Catalyst decorrelates the per-row
    subquery into a window-ranked join (DecorrelateInnerQuery), so
    what reads as a nested loop executes as ONE ranked shuffle — the
    rewrite that makes lateral usable at scale."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        "SELECT c.c_custkey, o.o_orderkey, o.o_totalprice "
        "FROM v_customer c, LATERAL (SELECT o_orderkey, o_totalprice "
        "FROM v_orders WHERE o_custkey = c.c_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o"
    )


@query(
    "q_set_ops_all",
    oracle=(
        "SELECT l_partkey FROM lineitem "
        "EXCEPT ALL "
        "SELECT l_partkey FROM lineitem WHERE l_quantity > 10"
    ),
)
def q_set_ops_all(spark, sf_dir):
    """Bag-semantics set difference (EXCEPT ALL): multiplicity-aware,
    unlike the distinct-ing EXCEPT of q_set_except. Spark plans it as
    one hash aggregate computing per-key count deltas — a single
    shuffle keyed on the value, no join."""
    li = t(spark, sf_dir, "lineitem")
    return li.select("l_partkey").exceptAll(
        li.filter(F.col("l_quantity") > 10).select("l_partkey")
    )


@query(
    "q_gap_fill_locf",
    oracle=(
        "SELECT event_id, user_id, last_value(v IGNORE NULLS) OVER ("
        "PARTITION BY user_id ORDER BY ts NULLS LAST, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled "
        "FROM (SELECT event_id, user_id, ts, "
        "CASE WHEN value < 50 THEN NULL ELSE value END AS v FROM events)"
    ),
)
def q_gap_fill_locf(spark, sf_dir):
    """Last-observation-carried-forward gap filling — the time-series
    imputation staple: null readings (here: values < 50 masked as
    missing) inherit the most recent non-null per user. IGNORE NULLS
    last() over an unbounded-preceding frame; one shuffle on user_id,
    leading nulls stay null by design. NULL-ts rows sort AFTER all
    timed rows on BOTH engines (pinned NULLS LAST — round-6 key-fuzz
    sweep)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.when(F.col("value") < 50, None).otherwise(F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        F.last(v, ignorenulls=True).over(w).alias("filled"),
    )


@query(
    "q_tpch_q18",
    oracle=(
        "SELECT c_custkey, o_orderkey, round(total_qty, 2) AS total_qty "
        "FROM (SELECT o_custkey, l_orderkey AS o_orderkey, "
        "sum(l_quantity) AS total_qty FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_custkey, l_orderkey HAVING sum(l_quantity) > 250) big "
        "JOIN customer ON c_custkey = o_custkey"
    ),
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): aggregate-then-filter
    (HAVING) followed by a join against the surviving groups. The
    HAVING filter collapses the order population before the customer
    join ever happens — the aggregate's output, not the fact table,
    is what joins; AQE broadcasts the filtered survivors."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(c, big.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@query(
    "q_share_of_total",
    oracle=(
        "WITH rev AS (SELECT n_name, r_name, "
        "sum(o_totalprice) AS nation_rev "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY n_name, r_name) "
        "SELECT n_name, r_name, round(nation_rev, 2) AS nation_rev, "
        "round(nation_rev / sum(nation_rev) OVER (PARTITION BY r_name), 6) "
        "AS region_share, "
        "round(nation_rev / sum(nation_rev) OVER (), 6) AS global_share "
        "FROM rev"
    ),
)
def q_share_of_total(spark, sf_dir):
    """Share-of-total (ratio-to-report) windows: each nation's revenue
    as a fraction of its region and of the world. The windows run
    over the 25-row aggregate, not the fact table — the two-phase
    shape (aggregate first, normalize the aggregate) that keeps
    ratio-to-report O(groups) at any scale."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    wr = Window.partitionBy("r_name")
    wg = Window.partitionBy()
    return rev.select(
        "n_name",
        "r_name",
        F.round("nation_rev", 2).alias("nation_rev"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(wr), 6).alias(
            "region_share"
        ),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(wg), 6).alias(
            "global_share"
        ),
    )


@query(
    "q_rank_dense",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity, "
        "CAST(rank() OVER w AS INT) AS rnk, "
        "CAST(dense_rank() OVER w AS INT) AS drnk "
        "FROM lineitem WINDOW w AS "
        "(PARTITION BY l_returnflag ORDER BY l_quantity)"
    ),
)
def q_rank_dense(spark, sf_dir):
    """rank() vs dense_rank() under ties (l_quantity repeats heavily):
    gap-ranking and gapless-ranking in one window pass — both are
    tie-deterministic (equal values share a rank), unlike row_number,
    so no tiebreak column is needed for parity."""
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
    )


@query(
    "q_null_safe_join",
    oracle=(
        "WITH c AS (SELECT c_custkey, CASE WHEN c_custkey % 50 = 0 "
        "THEN NULL ELSE c_nationkey END AS k FROM customer), "
        "dim AS (SELECT n_nationkey AS k, n_name FROM nation "
        "UNION ALL SELECT NULL, 'UNKNOWN') "
        "SELECT c.c_custkey, dim.n_name "
        "FROM c LEFT JOIN dim ON c.k IS NOT DISTINCT FROM dim.k"
    ),
)
def q_null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL is a
    real join category here — customers with an unknown nation match
    the dim's sentinel NULL row instead of dropping out. The dim stays
    broadcastable (|nations|+1 rows); a plain equi-join would need a
    coalesce-to-sentinel rewrite to do the same."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 50 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("k"),
    )
    n = t(spark, sf_dir, "nation")
    dim = n.select(F.col("n_nationkey").alias("k"), "n_name").unionAll(
        spark.createDataFrame([(None, "UNKNOWN")], "k int, n_name string")
    )
    return c.join(
        F.broadcast(dim), c.k.eqNullSafe(dim.k), "left"
    ).select("c_custkey", "n_name")


@query(
    "q_union_by_name",
    oracle=(
        "SELECT o_orderkey, o_orderstatus, "
        "round(coalesce(o_totalprice, -1.0), 2) AS o_totalprice FROM ("
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0 "
        "UNION ALL BY NAME "
        "SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey % 2 = 1)"
    ),
)
def q_union_by_name(spark, sf_dir):
    """Schema-evolution-tolerant union: sources with reordered AND
    missing columns combine by NAME (missing → NULL), the everyday
    reality of unioning parquet snapshots written by different
    pipeline versions. Spark's unionByName(allowMissingColumns) ≡
    DuckDB's UNION ALL BY NAME."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.coalesce("o_totalprice", F.lit(-1.0)), 2).alias("o_totalprice"),
    )


@query(
    "q_try_cast",
    oracle=(
        "SELECT p_partkey, "
        "TRY_CAST(p_name AS INT) AS bad_int, "
        "TRY_CAST(CAST(p_partkey AS VARCHAR) AS INT) AS good_int, "
        "TRY_CAST(substr(p_type, 1, 5) AS DOUBLE) AS bad_double "
        "FROM part"
    ),
)
def q_try_cast(spark, sf_dir):
    """Error-safe casting (try_cast): malformed values become NULL
    instead of failing the job — the difference between one bad row
    poisoning a 100 TB ingest and a countable dead-letter column.
    Identical NULL-on-failure semantics on both engines."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").try_cast("int").alias("bad_int"),
        F.col("p_partkey").cast("string").try_cast("int").alias("good_int"),
        F.substring("p_type", 1, 5).try_cast("double").alias("bad_double"),
    )


@query(
    "q_islands",
    oracle=(
        "WITH d AS (SELECT DISTINCT user_id, "
        "CAST(date_trunc('day', ts) AS DATE) AS day FROM events "
        "WHERE ts IS NOT NULL), "
        "r AS (SELECT user_id, day, CAST(row_number() OVER ("
        "PARTITION BY user_id ORDER BY day) AS INT) AS rn FROM d) "
        "SELECT user_id, min(day) AS island_start, max(day) AS island_end, "
        "CAST(count(*) AS BIGINT) AS n_days "
        "FROM r GROUP BY user_id, day - INTERVAL (rn) DAY"
    ),
)
def q_islands(spark, sf_dir):
    """Gaps-and-islands: each user's maximal runs of consecutive
    active days (streaks). The rn-difference trick — day minus the
    per-user day rank is constant within a consecutive run — turns
    streak detection into one groupBy; a single user-keyed shuffle
    over the distinct-day table, never the raw events. NULL-ts events
    belong to no streak and are excluded on BOTH engines (round-6
    key-fuzz discipline: a NULL day would shift every rn after it by
    a NULLS-FIRST/LAST-dependent offset)."""
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("user_id", F.date_sub("day", F.col("rn")).alias("_anchor"))
        .agg(
            F.min("day").alias("island_start"),
            F.max("day").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


@query(
    "q_tpch_q7",
    oracle=(
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS INT) AS l_year, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
        "GROUP BY supp_nation, cust_nation, l_year"
    ),
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): the disjunctive (OR) join predicate
    case — two asymmetric nation pairings evaluated in one plan. The
    nation dim joins twice under different aliases (both broadcast);
    the OR filter runs post-join on the two broadcast-joined name
    columns, so the fact tables are never scanned twice."""
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_multi_distinct",
    oracle=(
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, "
        "count(DISTINCT o_orderpriority) AS n_priorities, "
        "count(*) AS n_orders FROM orders GROUP BY o_orderstatus"
    ),
)
def q_multi_distinct(spark, sf_dir):
    """Multiple COUNT(DISTINCT) columns in one aggregate — Spark
    compiles this to an Expand (one replicated pass per distinct set)
    feeding a single shuffle, not one job per distinct column; the
    plain count rides along free."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_moving_avg",
    oracle=(
        "SELECT event_id, user_id, "
        "round(avg(value) OVER (PARTITION BY user_id "
        "ORDER BY ts NULLS LAST, event_id "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS ma4 "
        "FROM events"
    ),
)
def q_moving_avg(spark, sf_dir):
    """Bounded sliding-frame moving average (last 4 events per user) —
    the row-count-bounded frame that complements q_window_range_frame's
    time-bounded one; constant state per row regardless of partition
    size. NULL-ts rows sort AFTER timed rows on BOTH engines (pinned
    NULLS LAST — round-6 key-fuzz sweep)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(-3, 0)
    )
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("ma4"),
    )


@query(
    "q_min_max_norm",
    oracle=(
        "SELECT event_id, event_type, "
        "round((value - mn) / nullif(mx - mn, 0.0), 6) AS value_norm FROM ("
        "SELECT event_id, event_type, value, "
        "min(value) OVER (PARTITION BY event_type) AS mn, "
        "max(value) OVER (PARTITION BY event_type) AS mx FROM events)"
    ),
)
def q_min_max_norm(spark, sf_dir):
    """Per-group min-max feature scaling to [0,1] — the normalization
    pass feature pipelines run before training. Unbounded analytic
    min/max windows over |event_type| groups; at corpus scale the
    same result comes from a 5-row (group → min, max) broadcast dim,
    identical arithmetic. Constant groups ⇒ NULL (nullif guard), not
    a division error."""
    w = Window.partitionBy("event_type")
    e = t(spark, sf_dir, "events")
    mn = F.min("value").over(w)
    mx = F.max("value").over(w)
    return e.select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - mn) / F.nullif(mx - mn, F.lit(0.0)), 6
        ).alias("value_norm"),
    )


@query(
    "q_variant_json",
    oracle=(
        "SELECT event_id, CAST(props ->> '$.k' AS INT) AS k_val, "
        "CAST(json_valid(props) AS BOOLEAN) AS is_valid FROM events"
    ),
)
def q_variant_json(spark, sf_dir):
    """Semi-structured access through Spark 4's VariantType:
    parse_json once into the binary variant encoding, then typed
    variant_get path extraction — the open-format answer to
    string-reparsing every get_json_object call (one parse, many
    cheap typed reads; variant shredding pushes paths to the scan
    when the source is variant-typed parquet)."""
    e = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_val"),
        # NULL props → NULL validity (unknown), matching json_valid:
        # `try_parse_json(NULL) IS NOT NULL` alone would say false
        F.expr(
            "CASE WHEN props IS NULL THEN NULL"
            " ELSE try_parse_json(props) IS NOT NULL END"
        ).alias("is_valid"),
    )


@query(
    "q_interpolate_linear",
    oracle=(
        "WITH obs AS (SELECT event_type, "
        "    CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) "
        "      AS INT) AS h, avg(value) AS v "
        "  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL "
        "    AND isfinite(value) "
        "    AND ts >= TIMESTAMP '2024-01-01 00:00:00' "
        "    AND ts < TIMESTAMP '2024-01-31 00:00:00' "
        "  GROUP BY 1, 2), "
        "types AS (SELECT DISTINCT event_type FROM obs), "
        "grid AS (SELECT event_type, CAST(unnest(range(720)) AS INT) AS h "
        "  FROM types), "
        "j AS (SELECT g.event_type, g.h, o.v FROM grid g "
        "  LEFT JOIN obs o ON o.event_type = g.event_type AND o.h = g.h), "
        "w AS (SELECT event_type, h, v, "
        "    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type "
        "      ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "      AS pv, "
        "    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) "
        "      OVER (PARTITION BY event_type ORDER BY h "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph, "
        "    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type "
        "      ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) "
        "      AS nv, "
        "    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) "
        "      OVER (PARTITION BY event_type ORDER BY h "
        "      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh "
        "  FROM j) "
        "SELECT event_type, h, "
        "  CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS is_observed, "
        "  round(CASE WHEN v IS NOT NULL THEN v "
        "    WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
        "    ELSE pv + (nv - pv) * (h - ph) * 1.0 / (nh - ph) END, 6) "
        "    AS filled "
        "FROM w"
    ),
)
def q_interpolate_linear(spark, sf_dir):
    """Two-sided linear interpolation over a dense hourly grid per
    event type — the time-series imputation step past LOCF
    (q_gap_fill_locf carries the LAST observation forward; this draws
    the line between the nearest observations on BOTH sides, with
    nearest-value extrapolation at the edges). The declared grid is
    the data's 720-hour January window anchored at 2024-01-01; a slot
    with no finite-valued event is a gap.

    Scale shape: the fact table collapses into one (type, hour) keyed
    aggregate (the only fact-scale shuffle); the grid is |types| x 720
    rows built from a range cross join, the gap join and the four
    IGNORE-NULLS windows (prev/next value + anchor hour) all run over
    that tiny dense relation, partitioned per type. NULL event_type /
    NULL ts rows have no slot identity and non-finite values are not
    measurements; both are excluded on BOTH engines."""
    e = t(spark, sf_dir, "events")
    anchor = "TIMESTAMP_NTZ'2024-01-01 00:00:00'"
    obs = (
        e.filter(
            F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & (F.abs(F.col("value")) < F.lit(float("inf")))
            & (F.col("ts") >= F.expr(anchor))
            & (F.col("ts") < F.expr("TIMESTAMP_NTZ'2024-01-31 00:00:00'"))
        )
        .groupBy(
            "event_type",
            F.expr(f"CAST(timestampdiff(HOUR, {anchor}, ts) AS INT)").alias(
                "h"
            ),
        )
        .agg(F.avg("value").alias("v"))
    )
    types = obs.select("event_type").distinct()
    grid = types.crossJoin(
        e.sparkSession.range(720).select(F.col("id").cast("int").alias("h"))
    )
    j = grid.join(obs, ["event_type", "h"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    h_obs = F.when(F.col("v").isNotNull(), F.col("h"))
    w = j.select(
        "event_type",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(h_obs, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(h_obs, ignorenulls=True).over(wf).alias("nh"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("h") - F.col("ph"))
            * 1.0
            / (F.col("nh") - F.col("ph"))
        )
    )
    return w.select(
        "event_type",
        "h",
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("is_observed"),
        F.round(filled, 6).alias("filled"),
    )
