"""Warehouse-maintenance ETL operators: CDC merge, CUBE, profiling.

Generalizes the reference's incremental-batch idea (etl/transform.py:24-34
re-processes only new files) to the *table* level: apply a change batch
(upserts + deletes) to a base snapshot — the Delta/Iceberg MERGE INTO
shape — plus multi-dimensional CUBE aggregation and a single-pass column
profiler, all as pure declarative plans.

Scale notes (100 TB):
- ``cdc_merge_orders`` is the anti-join MERGE: base rows not touched by
  the change batch survive via LEFT ANTI (a shuffle on the merge key
  that AQE can convert to broadcast when the change batch is small —
  the common CDC case), then the change batch's upserts union in.
  No window over the full table, no global sort. With bucketed base
  and change tables on the key the anti-join is exchange-free.
- ``cube_sales`` is one shuffle; Spark expands the 4 grouping sets
  map-side and partial-aggregates each, so the extra sets cost CPU on
  the map side, not extra shuffles.
- ``profile_columns`` profiles N columns in ONE scan. The multi-column
  exact count-distinct uses Spark's EXPAND (rows × N on the map side,
  then one shuffle) — the standard exact-profile plan. At 100 TB you'd
  swap approx_count_distinct into the same plan shape (sketches are
  mergeable, so partial aggregation still applies) — the exact twin here
  is what the oracle can replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.fixtures import scratch_dir, session_memo
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread, table

# The change batch is derived deterministically from orders itself so the
# oracle can rebuild it: every orderkey ≡ 0 (mod 2) is an upsert with a
# repriced total (exact decimal bump — identical in both engines), and
# every orderkey ≡ 0 (mod 10) is a delete.
_NEW_PRICE = ("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * "
              "CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE)")
_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")


def cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.filter(F.expr("o_orderkey % 3 != 0"))
    changes = (
        o.filter(F.expr("o_orderkey % 2 = 0"))
        .withColumn("is_delete", F.expr("o_orderkey % 10 = 0"))
        .withColumn("o_totalprice", F.expr(_NEW_PRICE))
    )
    # The change-key set is explicitly broadcast: CDC change batches are
    # small relative to the base by contract (the common MERGE case), and
    # pinning the hint means the anti-join can never degrade to a
    # shuffled SMJ at larger SFs if size estimates drift — the base table
    # is then never shuffled at all. (Benchmarked: the plan is a static
    # BroadcastHashJoin LeftAnti either way at sf0.1; the r2 driver-bench
    # spike on this query was cold-block noise, see SCALING.md.) For a
    # change batch too big to broadcast, drop the hint and bucket both
    # sides on the merge key instead.
    survivors = base.join(
        F.broadcast(changes.select("o_orderkey")), "o_orderkey", "left_anti"
    )
    upserts = changes.filter(~F.col("is_delete")).drop("is_delete")
    return survivors.select(*_ORDER_COLS).unionByName(upserts.select(*_ORDER_COLS))


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .cube("o_year", "o_orderpriority")
        .agg(
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the wide multi-distinct aggregate's partials (expand ×
    # columns) ran inside the one-task scan (guide §2.5)
    li = spread(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.expr(f"CAST(MIN({c}) AS DOUBLE)").alias(f"{c}__min"),
            F.expr(f"CAST(MAX({c}) AS DOUBLE)").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_null, n_distinct, min_val, max_val)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: daily partial aggregates
    (the materialized state an incremental pipeline persists per batch)
    merged into monthly figures WITHOUT rescanning base rows. All
    aggregates are algebraic — sum-of-sums, sum-of-counts, avg from
    merged sums — so the merge step touches only #days rows. The
    oracle aggregates the base table directly, proving the two-level
    maintenance is lossless.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("d_sum"),
        F.count(F.lit(1)).alias("d_cnt"),
    )
    return (
        daily.groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.expr("CAST(SUM(d_sum) AS DOUBLE)").alias("total_sales"),
            F.expr("SUM(d_cnt)").alias("n_orders"),
            F.expr("CAST(ROUND(CAST(SUM(d_sum) AS DOUBLE) / SUM(d_cnt) "
                   "* 1e6) AS BIGINT)").alias("avg_order"),
        )
    )


def zorder_layout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key distribution over part (p_partkey × p_size
    dimensions): the histogram a layout optimizer inspects to pick file
    split points. The Morton key itself is the deliverable —
    functions/zorder.py::write_zordered sorts files on it so min/max
    stats prune on either dimension; the hash-matched histogram proves
    the Spark and oracle keys are bit-identical."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.zorder import morton_sql

    p = table(spark, sf_dir, "part")
    key = morton_sql("p_partkey % 256", "p_size % 256", bits=8, div="div")
    return (
        p.withColumn("z_key", F.expr(key).cast("long"))
        .groupBy(F.expr("z_key DIV 1024").cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("z_key").alias("min_key"),
            F.max("z_key").alias("max_key"),
        )
    )


QUERIES = {
    "cdc_merge_orders": cdc_merge_orders,
    "agg_incremental_rollup": agg_incremental_rollup,
    "zorder_layout_hist": zorder_layout_hist,
    "cube_sales": cube_sales,
    "profile_columns": profile_columns,
}

def _zorder_oracle() -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.zorder import morton_sql

    key = morton_sql("p_partkey % 256", "p_size % 256", bits=8, div="//")
    return f"""
        WITH keyed AS (SELECT {key} AS z_key FROM part)
        SELECT CAST(z_key // 1024 AS BIGINT) AS z_bucket,
               count(*) AS n_parts,
               min(z_key) AS min_key,
               max(z_key) AS max_key
        FROM keyed GROUP BY 1
    """


ORACLES = {
    "zorder_layout_hist": _zorder_oracle(),
    # Aggregates the BASE table directly (no daily intermediate): a hash
    # match proves the incremental two-level maintenance is lossless.
    "agg_incremental_rollup": """
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
               count(*) AS n_orders,
               CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) / count(*) * 1e6) AS BIGINT) AS avg_order
        FROM orders GROUP BY 1
    """,
    "cdc_merge_orders": f"""
        WITH changes AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   {_NEW_PRICE} AS o_totalprice,
                   o_orderdate, o_orderpriority,
                   o_orderkey % 10 = 0 AS is_delete
            FROM orders WHERE o_orderkey % 2 = 0
        ),
        survivors AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders b
            WHERE o_orderkey % 3 != 0
              AND NOT EXISTS (SELECT 1 FROM changes c
                              WHERE c.o_orderkey = b.o_orderkey)
        )
        SELECT * FROM survivors
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM changes WHERE NOT is_delete
    """,
    "cube_sales": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
               count(*) AS n_orders
        FROM orders
        GROUP BY CUBE(o_year, o_orderpriority)
    """,
    "profile_columns": " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_val,
               CAST(MAX({c}) AS DOUBLE) AS max_val
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
}


# Deequ/dbt-test-style declarative data-quality audit over orders: one
# conditional-aggregate scan computes every row-level rule, plus one
# broadcast anti-join semi-count for referential integrity — two jobs
# total regardless of rule count. Output is long-form (rule, n_violations,
# n_checked) so downstream alerting is schema-stable as rules evolve.
def dq_orders_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    rules = {
        "orderkey_not_null": "o_orderkey IS NULL",
        "totalprice_positive": "o_totalprice <= 0",
        "orderdate_in_range": "o_orderdate < TIMESTAMP '1992-01-01' "
                              "OR o_orderdate >= TIMESTAMP '1999-01-01'",
        "status_in_domain": "o_orderstatus NOT IN ('F', 'O', 'P')",
        "priority_wellformed": "o_orderpriority NOT LIKE '%-%'",
    }
    wide = o.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.expr(f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)").alias(name)
            for name, pred in rules.items()
        ],
    )
    long = wide.select(
        F.explode(
            F.expr(
                "map(" + ", ".join(f"'{n}', {n}" for n in rules) + ")"
            )
        ).alias("rule", "n_violations"),
        "n_checked",
    ).select("rule", F.expr("CAST(n_violations AS BIGINT)").alias("n_violations"), "n_checked")
    orphans = (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("custkey_references_customer").alias("rule"),
            F.expr("CAST(n_violations AS BIGINT)").alias("n_violations"),
        )
        .join(F.broadcast(o.agg(F.count(F.lit(1)).alias("n_checked"))))
    )
    return long.unionByName(orphans.select("rule", "n_violations", "n_checked"))


QUERIES["dq_orders_checks"] = dq_orders_checks

ORACLES["dq_orders_checks"] = """
    WITH base AS (SELECT count(*) AS n_checked FROM orders),
    rules AS (
        SELECT 'orderkey_not_null' AS rule,
               SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'totalprice_positive',
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) FROM orders
        UNION ALL
        SELECT 'orderdate_in_range',
               SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                          OR o_orderdate >= TIMESTAMP '1999-01-01'
                        THEN 1 ELSE 0 END) FROM orders
        UNION ALL
        SELECT 'status_in_domain',
               SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
        FROM orders
        UNION ALL
        SELECT 'priority_wellformed',
               SUM(CASE WHEN o_orderpriority NOT LIKE '%-%' THEN 1 ELSE 0 END)
        FROM orders
        UNION ALL
        SELECT 'custkey_references_customer',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n_checked
    FROM rules CROSS JOIN base
"""


# Snapshot diff — compare the post-CDC-merge snapshot against the base
# table and classify every key as unchanged / updated / added / removed,
# with row counts per class. The audit every MERGE pipeline runs after
# apply. One full-outer join on the key (both sides shuffle once on
# o_orderkey), then a 4-group conditional agg.
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    merged = cdc_merge_orders(spark, sf_dir).select(
        "o_orderkey", F.col("o_totalprice").alias("new_price")
    )
    return (
        base.join(merged, "o_orderkey", "full_outer")
        .select(
            F.expr(
                "CASE WHEN old_price IS NULL THEN 'added' "
                "WHEN new_price IS NULL THEN 'removed' "
                "WHEN CAST(old_price AS DECIMAL(18,2)) = CAST(new_price AS DECIMAL(18,2)) "
                "THEN 'unchanged' ELSE 'updated' END"
            ).alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


QUERIES["snapshot_diff_orders"] = snapshot_diff_orders

# ------------------------------------------- versioned snapshot reads
#
# Delta-style time travel over the CDC pipeline above: version 0 is the
# raw orders table, version 1 the first MERGE (cdc_merge_orders' change
# batch), version 2 a second MERGE (upsert every orderkey ≡ 0 mod 5 at
# +5%, delete every orderkey ≡ 0 mod 7). Each state is COMMITTED as an
# immutable versioned snapshot (versioned.py: staged write → atomic
# manifest publish) once per (session, sf_dir), then the query READS
# ALL THREE VERSIONS BACK FROM THE MANIFESTS — time-traveling the same
# table path to three different states — and aggregates each. The
# oracle rebuilds every state relationally from the base table, so a
# hash match proves the committed snapshots ARE the declared states.
#
# All change-batch prices derive from the ORIGINAL order price by exact
# decimal arithmetic (scale ≤ 4), never by re-rounding an
# already-bumped double — the only formulation where Spark and DuckDB
# produce bit-identical doubles. The per-version aggregate sums at
# DECIMAL(18,4) for the same reason.
_NEW_PRICE2 = ("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * "
               "CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)")


def _changes_v2(o: DataFrame) -> DataFrame:
    return (
        o.filter(F.expr("o_orderkey % 5 = 0 OR o_orderkey % 7 = 0"))
        .withColumn("is_delete", F.expr("o_orderkey % 7 = 0"))
        .withColumn("o_totalprice", F.expr(_NEW_PRICE2))
    )


@session_memo("versioned_orders", prebuild=True)
def _versioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = scratch_dir("orders_versions_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    v1 = cdc_merge_orders(spark, sf_dir)
    ch2 = _changes_v2(table(spark, sf_dir, "orders"))
    v2 = (
        v1.join(F.broadcast(ch2.select("o_orderkey")), "o_orderkey", "left_anti")
        .select(*_ORDER_COLS)
        .unionByName(
            ch2.filter(~F.col("is_delete")).select(*_ORDER_COLS)
        )
    )
    versioned.write_version(o, path, 0)
    versioned.write_version(v1, path, 1)
    versioned.write_version(v2, path, 2)
    return path


def snapshot_read_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _versioned_orders_path(spark, sf_dir)
    per_version = []
    for v in versioned.versions(path):
        per_version.append(
            versioned.read_version(spark, path, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.expr(
                    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
                ).alias("total_sales"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                "o_orderstatus",
                "n_orders",
                "total_sales",
            )
        )
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


QUERIES["snapshot_read_version"] = snapshot_read_version

_V_AGG = ("SELECT CAST({v} AS BIGINT) AS version, o_orderstatus, "
          "count(*) AS n_orders, "
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_sales "
          "FROM {src} GROUP BY o_orderstatus")

# The deterministic CDC-state rebuild (v1 = first MERGE, v2 = second)
# shared by every versioned-snapshot oracle: the SQL mirror of what
# _versioned_orders_path commits.
_CDC_STATES_CTES = f"""
    WITH changes AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               {_NEW_PRICE} AS o_totalprice,
               o_orderdate, o_orderpriority,
               o_orderkey % 10 = 0 AS is_delete
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    v1 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders b
        WHERE o_orderkey % 3 != 0
          AND NOT EXISTS (SELECT 1 FROM changes c
                          WHERE c.o_orderkey = b.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM changes WHERE NOT is_delete
    ),
    changes2 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               {_NEW_PRICE2} AS o_totalprice,
               o_orderdate, o_orderpriority,
               o_orderkey % 7 = 0 AS is_delete
        FROM orders WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
    ),
    v2 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM v1
        WHERE NOT EXISTS (SELECT 1 FROM changes2 c
                          WHERE c.o_orderkey = v1.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM changes2 WHERE NOT is_delete
    )
"""

ORACLES["snapshot_read_version"] = f"""
    {_CDC_STATES_CTES}
    {_V_AGG.format(v=0, src="orders")}
    UNION ALL
    {_V_AGG.format(v=1, src="v1")}
    UNION ALL
    {_V_AGG.format(v=2, src="v2")}
"""

ORACLES["snapshot_diff_orders"] = f"""
    WITH changes AS (
        SELECT o_orderkey, {_NEW_PRICE} AS o_totalprice,
               o_orderkey % 10 = 0 AS is_delete
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 3 != 0
          AND o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM changes WHERE NOT is_delete
    )
    SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN m.o_orderkey IS NULL THEN 'removed'
                WHEN CAST(b.o_totalprice AS DECIMAL(18,2))
                     = CAST(m.o_totalprice AS DECIMAL(18,2)) THEN 'unchanged'
                ELSE 'updated' END AS change_type,
           count(*) AS n_rows
    FROM orders b
    FULL OUTER JOIN merged m ON b.o_orderkey = m.o_orderkey
    GROUP BY 1
"""


# ----------------------------------------- copy-on-write MERGE version
#
# The file-level-manifest upgrade of snapshot_read_version: version 0 is
# orders range-partitioned into 8 files on o_orderkey (per-file
# [min,max] stats recorded in the manifest), version 1 is committed by
# versioned.merge_version_cow with a change batch confined to the LOWEST
# TENTH of the keyspace (upsert +5%, delete keys ≡ 0 mod 7). Because the
# files are range-partitioned and the manifest carries key stats, the
# merge stat-prunes ~90% of the parent files, rewrites only the one file
# holding the touched range, and SHARES the rest with version 0 — the
# Delta MERGE physical plan. The query reads BOTH versions back through
# their manifests and aggregates each; the oracle rebuilds both states
# relationally, so a hash match proves the shared-file manifest
# reconstructs exactly the declared merged state. File-sharing /
# stat-pruning counts are asserted in tests/test_versioned.py (they
# depend on partition layout, not data values, so they're test-side).


def _cow_changes(o: DataFrame) -> DataFrame:
    bound = o.agg((F.max("o_orderkey") / F.lit(10)).alias("cow_bound"))
    return (
        o.crossJoin(F.broadcast(bound))
        .filter(F.col("o_orderkey") <= F.col("cow_bound"))
        .withColumn("is_delete", F.expr("o_orderkey % 7 = 0"))
        .withColumn("o_totalprice", F.expr(_NEW_PRICE2))
        .select(*_ORDER_COLS, "is_delete")
    )


@session_memo("cow_orders", prebuild=True)
def _cow_orders_path(spark: SparkSession, sf_dir: str) -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = scratch_dir("orders_cow_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    versioned.write_version(o.repartitionByRange(8, "o_orderkey"), path, 0)
    versioned.merge_version_cow(spark, path, _cow_changes(o), "o_orderkey")
    return path


def snapshot_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _cow_orders_path(spark, sf_dir)
    per_version = []
    for v in versioned.versions(path):
        per_version.append(
            versioned.read_version(spark, path, v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.expr(
                    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
                ).alias("total_sales"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                "o_orderstatus",
                "n_orders",
                "total_sales",
            )
        )
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


QUERIES["snapshot_merge_cow"] = snapshot_merge_cow

ORACLES["snapshot_merge_cow"] = f"""
    WITH bound AS (SELECT MAX(o_orderkey) / 10 AS b FROM orders),
    changes AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               {_NEW_PRICE2} AS o_totalprice,
               o_orderdate, o_orderpriority,
               o_orderkey % 7 = 0 AS is_delete
        FROM orders, bound WHERE o_orderkey <= b
    ),
    v1 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM changes c
                          WHERE c.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM changes WHERE NOT is_delete
    )
    {_V_AGG.format(v=0, src="orders")}
    UNION ALL
    {_V_AGG.format(v=1, src="v1")}
"""


# ------------------------------------------------- NDV profile (HLL)
# The at-scale twin of profile_columns' exact countDistinct: per-column
# approximate NDV via HyperLogLog++ (approx_count_distinct, rsd=0.01).
# Exact NDV shuffles every distinct value per column; the HLL sketch is
# a fixed-size mergeable register set — the only NDV a 100 TB profiler
# can afford. Statistical oracle per the registry convention: the
# sketch must land within the advertised ±5·rsd of the exact count
# computed in the SAME plan (and small columns are exact by sparse
# mode); DuckDB re-derives group structure and asserts TRUE.
_NDV_COLS = ("l_quantity", "l_extendedprice", "l_suppkey", "l_partkey")
_NDV_RSD = 0.01


def profile_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # Unpivot FIRST (one explicit stack — values normalized to string),
    # then the exact NDV and the HLL in SEPARATE aggregates joined on
    # the 4-row result. NEVER mix countDistinct with a sketch in one
    # agg: Spark's mixed plan keys the partial sketch by
    # (group, distinct-value), materializing a full ~2^14-register HLL
    # buffer PER DISTINCT VALUE through the shuffle — measured 142 s
    # (single wide agg) / 35 s (grouped) vs ~1 s for this split at
    # sf0.1, and a straight OOM at 100 TB.
    stack = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _NDV_COLS)
    # spread(): the stack fan-out (rows × columns) and the distinct
    # partials ran inside the one-task scan (guide §2.5). Project to
    # exactly _NDV_COLS FIRST so the exchange moves 4 narrow columns,
    # not the whole row (the r13 version shipped all of lineitem
    # through the spread — the round's one driver-confirmed
    # regression, 2.44 → 3.71 s).
    tall = spread(
        spark, sf_dir, "lineitem", li.select(*_NDV_COLS),
        keys=("l_partkey", "l_suppkey"),
    ).select(
        F.expr(f"stack({len(_NDV_COLS)}, {stack}) AS (col_name, val)")
    )
    # Dedup (col_name, val) ONCE, then exact NDV is a plain count and
    # the HLL runs over the distinct values — sketch state depends only
    # on the SET of inputs (each value maxes the same register), so
    # ndv_approx is bit-identical to the r13 two-aggregate form while
    # the scan + stack subtree runs once instead of twice and the
    # exact/approx join disappears (plan: 2 parallel aggregates + a
    # broadcast join → 1 aggregate chain). count() here is NOT
    # countDistinct — no distinct-expand, the sketch never keys by
    # (group, value) (see the warning above).
    # NULLs are dropped first: countDistinct and the HLL both ignore
    # them, but a plain count over distinct rows would not.
    distinct_vals = tall.filter(F.col("val").isNotNull()).distinct()
    agged = distinct_vals.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("ndv_exact"),
        F.expr(f"approx_count_distinct(val, {_NDV_RSD})").alias("ndv_approx"),
    )
    return agged.select(
        "col_name",
        "ndv_exact",
        F.expr(
            f"abs(ndv_approx - ndv_exact) <= GREATEST(5 * {_NDV_RSD} "
            "* ndv_exact, 16)"
        ).alias("ndv_ok"),
    )


QUERIES["profile_ndv"] = profile_ndv

ORACLES["profile_ndv"] = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, "
    f"COUNT(DISTINCT {c}) AS ndv_exact, TRUE AS ndv_ok FROM lineitem"
    for c in _NDV_COLS
)


# ------------------------- hidden-partitioning round-trip (oracle-gated)
#
# The hidden-partitioning sink (sinks.py::write_hidden_partitioned) as
# a driver-checkable registry entry, not just a tests-only component:
# the events table is written ONCE per session as a two-era
# spec-evolved layout (era 1 partitions by days(ts); era 2 by days(ts)
# + bucket(4, user_id)), then read back through
# read_hidden_partitioned with source-column predicates — the
# reconstruction derives per-subtree partition predicates (day range
# on both eras, constant-folded hash bucket on era 2) and the result
# must equal the plain filtered scan the oracle runs on the raw
# parquet. Aggregation discipline: exact decimal sum, one final double
# cast (lint-audited).
@session_memo("hidden_events", prebuild=True)
def _hidden_events_path(spark: SparkSession, sf_dir: str) -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import write_hidden_partitioned

    path = scratch_dir("events_hidden_")
    ev = table(spark, sf_dir, "events")
    # The two eras must land as spec=0 / spec=1 in order (the spec file
    # append is ordered), but each era's WRITE JOB is independent — so
    # register both specs serially, then run the two write jobs
    # concurrently and let the scheduler overlap them on idle cores.
    import threading

    jobs = [
        (ev.filter("event_id % 2 = 0"), ["days(ts)"]),
        (ev.filter("event_id % 2 = 1"), ["days(ts)", "bucket(4, user_id)"]),
    ]
    errs: list[BaseException] = []

    def _run(df, specs):
        try:
            write_hidden_partitioned(df, path, specs)
        except BaseException as exc:  # surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=_run, args=j) for j in jobs]
    threads[0].start()
    # stagger so spec=0 registers its subtree before spec=1 appends
    import time as _time
    _time.sleep(0.05)
    threads[1].start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return path


def hidden_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import read_hidden_partitioned

    path = _hidden_events_path(spark, sf_dir)
    week2 = (datetime.datetime(2024, 1, 8, 0, 0, 0),
             datetime.datetime(2024, 1, 14, 23, 59, 59))
    df = read_hidden_partitioned(
        spark, path, eq={"user_id": 7}, between={"ts": week2}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)")
        .alias("total_value"),
    )


QUERIES["hidden_partition_prune"] = hidden_partition_prune

ORACLES["hidden_partition_prune"] = """
    SELECT event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id = 7
      AND ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                 AND TIMESTAMP '2024-01-14 23:59:59'
    GROUP BY event_type
"""


# ------------------------- change data feed between versions (CDF)
#
# versioned.table_changes as an oracle-gated entry: the row-level
# insert/delete/update_preimage/update_postimage feed between the v1
# and v2 snapshots committed by _versioned_orders_path. The oracle
# rebuilds both states relationally (shared _CDC_STATES_CTES) and
# derives the same feed with EXISTS/IS DISTINCT FROM — a hash match
# proves the manifest-backed CDF equals the declared state delta.
# o_totalprice is exact-decimal-derived (identical doubles on both
# engines, same discipline as cdc_merge_orders; lint-allowlisted).
def snapshot_changes_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _versioned_orders_path(spark, sf_dir)
    ch = versioned.table_changes(spark, path, ["o_orderkey"], 1, 2)
    return ch.select(
        "_change_type", "o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "_from_version", "_to_version",
    )


QUERIES["snapshot_changes_cdf"] = snapshot_changes_cdf

_CDF_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority")
_CDF_CHANGED = " OR ".join(
    f"p.{c} IS DISTINCT FROM q.{c}" for c in _CDF_COLS
)

ORACLES["snapshot_changes_cdf"] = f"""
    {_CDC_STATES_CTES}
    SELECT 'insert' AS _change_type, q.o_orderkey, q.o_orderstatus,
           q.o_orderpriority, q.o_totalprice,
           CAST(1 AS BIGINT) AS _from_version,
           CAST(2 AS BIGINT) AS _to_version
    FROM v2 q
    WHERE NOT EXISTS (SELECT 1 FROM v1 p WHERE p.o_orderkey = q.o_orderkey)
    UNION ALL
    SELECT 'delete', p.o_orderkey, p.o_orderstatus, p.o_orderpriority,
           p.o_totalprice, CAST(1 AS BIGINT), CAST(2 AS BIGINT)
    FROM v1 p
    WHERE NOT EXISTS (SELECT 1 FROM v2 q WHERE q.o_orderkey = p.o_orderkey)
    UNION ALL
    SELECT 'update_preimage', p.o_orderkey, p.o_orderstatus,
           p.o_orderpriority, p.o_totalprice,
           CAST(1 AS BIGINT), CAST(2 AS BIGINT)
    FROM v1 p JOIN v2 q ON p.o_orderkey = q.o_orderkey
    WHERE {_CDF_CHANGED}
    UNION ALL
    SELECT 'update_postimage', q.o_orderkey, q.o_orderstatus,
           q.o_orderpriority, q.o_totalprice,
           CAST(1 AS BIGINT), CAST(2 AS BIGINT)
    FROM v1 p JOIN v2 q ON p.o_orderkey = q.o_orderkey
    WHERE {_CDF_CHANGED}
"""


# --------------------------------------- k-anonymity privacy audit
#
# The governance gate next to doc_redact_patterns' PII scrubbing: a
# record is re-identifiable when its QUASI-IDENTIFIER combination
# (here nation × market segment × a 2000-unit balance band) is shared
# by fewer than k rows — the k-anonymity model (Sweeney 2002). The
# audit reports, for each QI granularity on the generalization ladder
# (fine = with the balance band, coarse = without it) and each
# conventional k, how many equivalence classes and how many ROWS fall
# below k, plus the dataset-wide minimum class size (the table's
# actual k). The coarse row IS the remediation readout: generalizing
# away the band shows exactly how much risk the next rung removes.
#
# Shape for 100 TB: one partial-agg shuffle per QI level over the
# class keys (the Σ-classes table is tiny); the k-threshold sweep is
# conditional aggregation over that table — the sweep-family pattern
# (ev_watermark_sweep), never one pass per k. The balance band is the
# house BIGINT-cents grid, so class keys are engine-exact.
_KANON_KS = (2, 5, 10, 25)


def dq_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    banded = c.selectExpr(
        "c_nationkey",
        "c_mktsegment",
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "DIV 200000 AS bal_band",
    )
    # ONE base shuffle builds the fine classes; the coarse rung is a
    # re-aggregation of those classes (tiny), never a second base scan
    fine = banded.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    coarse = fine.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("class_size").alias("class_size")
    )
    k_grid = "explode(array(%s)) AS k" % ", ".join(
        f"CAST({k} AS BIGINT)" for k in _KANON_KS
    )

    def sweep(classes: DataFrame, level: str) -> DataFrame:
        return (
            classes.select(F.expr(k_grid), "class_size")
            .groupBy("k")
            .agg(
                F.expr(
                    "SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END)"
                ).alias("n_classes_below"),
                F.expr(
                    "SUM(CASE WHEN class_size < k THEN class_size "
                    "ELSE 0 END)"
                ).alias("n_rows_at_risk"),
                F.expr("MIN(class_size)").alias("min_class_size"),
                F.count(F.lit(1)).alias("n_classes"),
            )
            .select(
                F.lit(level).alias("qi_level"), "k", "n_classes_below",
                "n_rows_at_risk", "min_class_size", "n_classes",
            )
        )

    return sweep(fine, "nation_segment_band").unionByName(
        sweep(coarse, "nation_segment")
    )


QUERIES["dq_kanonymity_audit"] = dq_kanonymity_audit

ORACLES["dq_kanonymity_audit"] = f"""
    WITH banded AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS bal_band
        FROM customer
    ),
    fine AS (
        SELECT count(*) AS class_size FROM banded
        GROUP BY c_nationkey, c_mktsegment, bal_band
    ),
    coarse AS (
        SELECT count(*) AS class_size FROM banded
        GROUP BY c_nationkey, c_mktsegment
    ),
    ks AS (SELECT unnest({list(_KANON_KS)}) AS k)
    SELECT 'nation_segment_band' AS qi_level, CAST(k AS BIGINT) AS k,
           SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END)
               AS n_classes_below,
           SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END)
               AS n_rows_at_risk,
           MIN(class_size) AS min_class_size,
           count(*) AS n_classes
    FROM fine CROSS JOIN ks GROUP BY k
    UNION ALL
    SELECT 'nation_segment' AS qi_level, CAST(k AS BIGINT) AS k,
           SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END),
           SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END),
           MIN(class_size),
           count(*)
    FROM coarse CROSS JOIN ks GROUP BY k
"""


# ------------------------------------ Benford first-digit DQ audit
#
# The forensic-accounting screen on a money column: naturally-grown
# multiplicative amounts follow Benford's law (P(first digit d) =
# log10(1+1/d)); fabricated or clipped data deviates. The audit
# reports, per leading digit, the observed ppm share vs the Benford
# expectation and the chi-square contribution — the table an auditor
# reads to spot digit stuffing. One partial-agg shuffle over 9 keys;
# every exposed number is an exact BIGINT grid (obs counts, ppm via
# integer DIV, chi² ×1e3 from a row-local double over exact ints).
# The nine expectation constants are hard-coded literals on BOTH
# sides — universal constants, never engine libm log10 calls (whose
# last ulp differs across runtimes: the rule-A lesson applied to
# transcendentals).
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992,
                51153, 45757)


def dq_benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    exp_arr = "array(%s)" % ", ".join(
        f"CAST({p} AS BIGINT)" for p in _BENFORD_PPM
    )
    digits = (
        o.selectExpr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS cents"
        )
        .filter("cents > 0")
        # leading digit of cents == leading digit of the value (×100
        # shifts the decimal point, never the mantissa)
        .selectExpr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT) "
                    "AS digit")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("n_total"))
    return (
        digits.crossJoin(F.broadcast(total))
        .selectExpr(
            "digit",
            "n_obs",
            # per-digit counts are data-proportional — DECIMAL(38,0)
            # ppm grid (rule F)
            "CAST(CAST(n_obs AS DECIMAL(38,0)) * 1000000 DIV n_total "
            "AS BIGINT) AS obs_ppm",
            f"element_at({exp_arr}, digit) AS expected_ppm",
            "CAST(CAST(n_obs AS DECIMAL(38,0)) * 1000000 DIV n_total "
            f"AS BIGINT) - element_at({exp_arr}, digit) AS dev_ppm",
            # per-digit chi² contribution ×1e3:
            # (obs − n·p)² / (n·p), p = expected_ppm/1e6
            "CAST(ROUND((CAST(n_obs AS DOUBLE) "
            f"- CAST(n_total AS DOUBLE) * element_at({exp_arr}, digit) / 1e6)"
            " * (CAST(n_obs AS DOUBLE) "
            f"- CAST(n_total AS DOUBLE) * element_at({exp_arr}, digit) / 1e6)"
            f" / (CAST(n_total AS DOUBLE) * element_at({exp_arr}, digit) "
            "/ 1e6) * 1e3) AS BIGINT) AS chi2_contrib_m",
        )
    )


QUERIES["dq_benford_orders"] = dq_benford_orders

ORACLES["dq_benford_orders"] = f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
                   AS digit,
               count(*) AS n_obs
        FROM (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS cents
            FROM orders
        ) WHERE cents > 0
        GROUP BY 1
    ),
    total AS (SELECT SUM(n_obs) AS n_total FROM digits),
    exp_t AS (
        SELECT unnest(range(1, 10)) AS digit,
               unnest({list(_BENFORD_PPM)}) AS expected_ppm
    )
    SELECT d.digit, d.n_obs,
           CAST(CAST(d.n_obs AS HUGEINT) * 1000000 // n_total
               AS BIGINT) AS obs_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(CAST(d.n_obs AS HUGEINT) * 1000000 // n_total
               AS BIGINT) - e.expected_ppm AS dev_ppm,
           CAST(ROUND((CAST(d.n_obs AS DOUBLE)
                 - CAST(n_total AS DOUBLE) * e.expected_ppm / 1e6)
                * (CAST(d.n_obs AS DOUBLE)
                 - CAST(n_total AS DOUBLE) * e.expected_ppm / 1e6)
                / (CAST(n_total AS DOUBLE) * e.expected_ppm / 1e6)
                * 1e3) AS BIGINT) AS chi2_contrib_m
    FROM digits d JOIN exp_t e USING (digit) CROSS JOIN total
"""


# ----------------------------- functional-dependency discovery
#
# Schema-profiling next to profile_columns' value stats: does A
# (approximately) determine B? For each declared candidate FD the
# audit reports the LHS group count, how many groups see >1 distinct
# RHS value, the share of ROWS inside violating groups (the
# approximate-FD g3-style error on a ppm grid), and whether the FD
# holds exactly — the evidence a modeler reads before declaring keys,
# denormalizing, or trusting a dimension hierarchy. One two-column
# partial-agg pass per candidate (COUNT + MIN/MAX-equality instead of
# COUNT DISTINCT — the sketch-free exact check that stays one
# aggregation); candidates over the same table could share a grouping
# at scale, but each pass is already a narrow column-pruned scan.
_FD_CANDIDATES = (
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_extendedprice"),
)


def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        groups = t.groupBy(lhs).agg(
            F.count(F.lit(1)).alias("n_rows"),
            # a group violates iff it holds >1 distinct RHS — detected
            # by min != max (exact, no distinct-count expand)
            F.expr(f"IF(MIN({rhs}) = MAX({rhs}) "
                   f"AND COUNT({rhs}) = COUNT(*), 0, 1)").alias("viol"),
        )
        row = groups.agg(
            F.lit(f"{tbl}.{lhs}").alias("lhs"),
            F.lit(f"{tbl}.{rhs}").alias("rhs"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("viol").alias("n_violating_groups"),
            # violating-row mass is data-proportional — DECIMAL(38,0)
            # ppm grid (rule F)
            F.expr("CAST(SUM(CAST(viol AS DECIMAL(38,0)) * n_rows) "
                   "* 1000000 DIV SUM(n_rows) AS BIGINT)")
            .alias("violating_rows_ppm"),
            F.expr("CAST(SUM(viol) = 0 AS STRING)").alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["dq_fd_discovery"] = dq_fd_discovery

ORACLES["dq_fd_discovery"] = "\nUNION ALL\n".join(
    f"""
    SELECT '{tbl}.{lhs}' AS lhs, '{tbl}.{rhs}' AS rhs,
           count(*) AS n_groups,
           SUM(viol) AS n_violating_groups,
           CAST(SUM(CAST(viol AS HUGEINT) * n_rows) * 1000000
               // SUM(n_rows) AS BIGINT) AS violating_rows_ppm,
           CAST(SUM(viol) = 0 AS VARCHAR) AS holds
    FROM (
        SELECT {lhs}, count(*) AS n_rows,
               CASE WHEN MIN({rhs}) = MAX({rhs})
                    AND COUNT({rhs}) = COUNT(*) THEN 0 ELSE 1 END AS viol
        FROM {tbl} GROUP BY {lhs}
    )
    """
    for tbl, lhs, rhs in _FD_CANDIDATES
)


# --------------------------------------- deletion-vector read parity
# Merge-on-read DML (versioned.py deletion vectors, the Delta 3.x
# shape) proven READ-EQUIVALENT to copy-on-write: the same predicate
# DELETE + UPDATE sequence runs against two copies of the orders
# snapshot — one with dv.enabled (positions land in a tiny sidecar,
# data files shared byte-identically), one rewriting touched files —
# and the final aggregate must agree with the oracle's direct rebuild
# for BOTH. Generalizes the reference's rewrite-the-world refresh
# (reference etl/transform.py:24-34 tracks whole files; a warehouse
# needs row-level DML that does not rewrite a 1 GB file per row).
@session_memo("dv_orders", prebuild=True)
def _dv_orders_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    mor = scratch_dir("orders_dv_mor_")
    cow = scratch_dir("orders_dv_cow_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    # 4 range-clustered files: predicate DML discovers touched files by
    # pushing the predicate into the scan — this fixture builds TWO
    # tables + 4 DML commits once per session.
    for p in (mor, cow):
        versioned.write_version(
            o.repartitionByRange(4, "o_orderkey"), p, 0,
        )
    versioned.set_table_property(mor, "dv.enabled", "true")

    def _dml_seq(p: str) -> None:  # identical DML sequence per table
        versioned.delete_where(spark, p, "o_orderkey % 10 = 3")
        versioned.update_where(
            spark, p, {"o_totalprice": _NEW_PRICE}, "o_orderkey % 4 = 0"
        )
        # PARTIAL-touch delete (only the lowest-range file at every SF)
        # then a full-touch delete: the later commit must attribute DV
        # rows per file from its CURRENT vector while an older sidecar
        # — still current for the untouched files — holds the touched
        # file's stale positions (the r8 stale-sidecar bug class; this
        # makes the DRIVER's oracle gate exercise chained-vector state)
        versioned.delete_where(
            spark, p, "o_orderkey < 1000 AND o_orderkey % 10 = 7")
        versioned.delete_where(spark, p, "o_orderkey % 10 = 5")

    # The two tables' DML histories are INDEPENDENT (separate paths,
    # separate manifests — the commits only race within one table, and
    # here each table's sequence stays strictly ordered in its own
    # thread): run them as two concurrent driver threads so the COW
    # rewrites back-fill cores idled by the MOR commits' driver-side
    # bookkeeping (guide §2.6 "overlap independent jobs" — the same
    # shape as the hidden-events two-era write).
    import threading

    errs: list[BaseException] = []

    def _run(p: str) -> None:
        try:
            _dml_seq(p)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errs.append(exc)

    threads = [threading.Thread(target=_run, args=(p,))
               for p in (mor, cow)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return mor, cow


def snapshot_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    mor, cow = _dv_orders_paths(spark, sf_dir)
    parts = []
    for mode, p in (("mor", mor), ("cow", cow)):
        parts.append(
            versioned.read_version(spark, p)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.expr(
                    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
                ).alias("total_sales"),
            )
            .select(
                F.lit(mode).alias("mode"), "o_orderstatus",
                "n_orders", "total_sales",
            )
        )
    return parts[0].unionByName(parts[1])


QUERIES["snapshot_dv_read"] = snapshot_dv_read

ORACLES["snapshot_dv_read"] = f"""
    WITH survive AS (
        SELECT * FROM orders
        WHERE o_orderkey % 10 != 3
          AND NOT (o_orderkey < 1000 AND o_orderkey % 10 = 7)
          AND o_orderkey % 10 != 5
    ),
    final AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 4 = 0
                    THEN {_NEW_PRICE} ELSE o_totalprice END AS o_totalprice
        FROM survive
    ),
    agg AS (
        SELECT o_orderstatus, count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_sales
        FROM final GROUP BY o_orderstatus
    )
    SELECT 'mor' AS mode, o_orderstatus, n_orders, total_sales FROM agg
    UNION ALL
    SELECT 'cow' AS mode, o_orderstatus, n_orders, total_sales FROM agg
"""


# ------------------------------------- partitioned retention snapshot
# Partition-aligned lakehouse retention, end-to-end through the oracle
# gate: orders lands as a PARTITIONED versioned table (one file per
# o_orderpriority value — write_version(partition_by) clusters before
# partitionBy, keeping the real column in the data bytes), then
# "retention" drops the URGENT partition. Because every file of that
# partition is fully matched, the DELETE takes the whole-file
# METADATA-ONLY path (files_rewritten == 0, asserted at build — a
# wrong rewrite would fail the fixture, a wrong drop would fail the
# oracle hash). The read must equal DuckDB's direct rebuild of the
# surviving rows. This is the "drop yesterday's partition for free"
# capability (versioned.py::write_version/_predicate_cow) proven on
# real query data, not synthetic test rows.
@session_memo("partitioned_orders", prebuild=True)
def _partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = scratch_dir("orders_partitioned_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    versioned.write_version(o, path, 0, partition_by=["o_orderpriority"])
    stats = versioned.delete_where(
        spark, path, "o_orderpriority = '1-URGENT'")
    assert stats["files_rewritten"] == 0 and stats["files_dropped"] >= 1, (
        "partition delete must be metadata-only on an aligned table"
    )
    return path


def snapshot_partition_retention(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _partitioned_orders_path(spark, sf_dir)
    return (
        versioned.read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("total_sales"),
        )
    )


QUERIES["snapshot_partition_retention"] = snapshot_partition_retention

ORACLES["snapshot_partition_retention"] = """
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_sales
    FROM orders
    WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority
"""


# ------------------------------------------- Hilbert layout histogram
# The Hilbert-curve twin of zorder_layout_hist: same part-table grid,
# same histogram shape, key from functions/hilbert.py's unrolled fold
# (adjacency-true space-filling curve — the clustering Databricks
# moved Delta to for liquid clustering). A hash match proves the Spark
# chain and the DuckDB nested-subquery twin compute bit-identical
# Hilbert indices; the LOCALITY advantage over Morton is measured in
# tests/test_zorder.py and recorded in SCALING.md.
def hilbert_layout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hilbert import (
        with_hilbert_key,
    )

    p = table(spark, sf_dir, "part").selectExpr(
        "p_partkey % 256 AS gx", "p_size % 256 AS gy"
    )
    return (
        with_hilbert_key(p, "gx", "gy", bits=8)
        .groupBy(F.expr("h_key DIV 1024").cast("long").alias("h_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("h_key").alias("min_key"),
            F.max("h_key").alias("max_key"),
        )
    )


QUERIES["hilbert_layout_hist"] = hilbert_layout_hist


def _hilbert_oracle() -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hilbert import (
        hilbert_oracle_sql,
    )

    keyed = hilbert_oracle_sql(
        "gx", "gy", 8,
        "SELECT p_partkey % 256 AS gx, p_size % 256 AS gy FROM part",
    )
    return f"""
        SELECT CAST(h_key // 1024 AS BIGINT) AS h_bucket,
               count(*) AS n_parts,
               min(h_key) AS min_key,
               max(h_key) AS max_key
        FROM ({keyed}) GROUP BY 1
    """


ORACLES["hilbert_layout_hist"] = _hilbert_oracle()


# --------------------------------- CDF-driven incremental maintenance
# agg_incremental_rollup's at-scale successor: instead of re-reading
# daily partials, the materialized monthly rollup is advanced by
# CONSUMING THE CHANGE DATA FEED between two commits —
# insert/update_postimage rows add, delete/update_preimage rows
# subtract — so maintenance cost is O(changed rows), not O(table).
# This is the consumer loop Delta's `table_changes`-driven
# materialized views run; it composes the engine's own CDF
# (versioned.table_changes over the COW merge committed by
# _cow_orders_path). Exactness: deltas are ±DECIMAL(18,4) partial
# sums, merged decimal-exact, cast to DOUBLE only at the output edge
# (the audited snapshot_merge_cow construction). The oracle rebuilds
# the post-merge state directly and aggregates — a hash match proves
# the incremental feed-consumption is lossless.
def agg_incremental_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _cow_orders_path(spark, sf_dir)  # v0 base, v1 = COW merge
    month = F.date_trunc("month", "o_orderdate").alias("month")
    base = (
        versioned.read_version(spark, path, 0)
        .groupBy(month)
        .agg(
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,4)))").alias("m_sum"),
            F.count(F.lit(1)).alias("m_cnt"),
        )
    )
    sign = F.expr(
        "CASE WHEN _change_type IN ('delete', 'update_preimage') "
        "THEN -1 ELSE 1 END"
    )
    deltas = (
        versioned.table_changes(spark, path, ["o_orderkey"], 0, 1)
        .groupBy(month)
        .agg(
            F.expr(
                "SUM(CAST(o_totalprice AS DECIMAL(18,4)) * "
                "(CASE WHEN _change_type IN ('delete', 'update_preimage') "
                "THEN -1 ELSE 1 END))"
            ).alias("m_sum"),
            F.sum(sign.cast("long")).alias("m_cnt"),
        )
    )
    return (
        base.unionByName(deltas)
        .groupBy("month")
        .agg(
            F.expr("CAST(SUM(m_sum) AS DOUBLE)").alias("total_sales"),
            F.sum("m_cnt").alias("n_orders"),
        )
        .filter("n_orders > 0")  # a fully-deleted month leaves the view
    )


QUERIES["agg_incremental_cdf"] = agg_incremental_cdf

# the direct rebuild of v1 (same CTE as snapshot_merge_cow), aggregated
ORACLES["agg_incremental_cdf"] = f"""
    WITH bound AS (SELECT MAX(o_orderkey) / 10 AS b FROM orders),
    changes AS (
        SELECT o_orderkey, {_NEW_PRICE2} AS o_totalprice, o_orderdate,
               o_orderkey % 7 = 0 AS is_delete
        FROM orders, bound WHERE o_orderkey <= b
    ),
    v1 AS (
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM changes c
                          WHERE c.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM changes WHERE NOT is_delete
    )
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_sales,
           count(*) AS n_orders
    FROM v1 GROUP BY 1
"""


# ------------------------- generated-column hidden-partition retention
# snapshot_partition_retention's r9 successor, composing three
# capabilities into one oracle-gated proof: (1) o_month is GENERATED
# ALWAYS AS date_trunc('month', o_orderdate) — computed at write, never
# supplied; (2) the table is partition_by'd on that generated column
# (hidden partitioning: users query o_orderdate, retention runs on
# o_month); (3) a predicate UPDATE rewrites touched files ALIGNED and
# RECOMPUTES the generated column, so the month-drop DELETE that
# follows is still METADATA-ONLY (files_rewritten == 0 asserted at
# build — the r8 gap where one UPDATE broke retention until OPTIMIZE).
# The surviving read must equal DuckDB's direct rebuild (update
# applied, first month removed).
_GEN_MONTH = "CAST(date_trunc('month', o_orderdate) AS DATE)"


@session_memo("generated_orders", prebuild=True)
def _generated_orders_path(spark: SparkSession, sf_dir: str) -> tuple:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = scratch_dir("orders_generated_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    versioned.write_version(
        o, path, 0,
        generated={"o_month": _GEN_MONTH},
        partition_by=["o_month"],
    )
    st_up = versioned.update_where(
        spark, path, {"o_orderstatus": "'X'"}, "o_orderkey % 97 = 0")
    assert st_up["files_rewritten"] >= 1, "update must touch files"
    first = versioned.read_version(spark, path).agg(
        F.expr("CAST(MIN(o_month) AS STRING)")).first()[0]
    stats = versioned.delete_where(spark, path,
                                   f"o_month = DATE '{first}'")
    assert stats["files_rewritten"] == 0 and stats["files_dropped"] >= 1, (
        "month drop must stay metadata-only after the aligned UPDATE"
    )
    return path, first


def snapshot_generated_retention(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path, _ = _generated_orders_path(spark, sf_dir)
    return (
        versioned.read_version(spark, path)
        .groupBy("o_month", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("total_sales"),
        )
    )


QUERIES["snapshot_generated_retention"] = snapshot_generated_retention

ORACLES["snapshot_generated_retention"] = f"""
    WITH upd AS (
        SELECT {_GEN_MONTH} AS o_month,
               CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders
    )
    SELECT o_month, o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_sales
    FROM upd
    WHERE o_month <> (SELECT MIN(o_month) FROM upd)
    GROUP BY o_month, o_orderstatus
"""


# ---------------------------------------------- REPLACE WHERE snapshot
# Delta's `INSERT INTO t REPLACE WHERE p <select>` (the replaceWhere
# writer option; dynamic partition overwrite when p is a partition
# filter) as an oracle-gated fixture: orders lands hive-aligned on
# o_orderpriority, then ONE atomic replace_where commit swaps the
# '2-HIGH' partition for a deterministic subset of itself (even order
# keys, status retagged 'R'). On the aligned layout the build asserts
# the replace is a metadata-only drop + aligned insert — zero parent
# files read or rewritten (files_rewritten == 0) — which is the whole
# 100 TB point: "replace yesterday's partition" costs the new bytes
# only. The oracle rebuilds the final state relationally; a hash match
# proves the region swap was exact — no leaked old rows, no
# out-of-region damage.
@session_memo("replace_where_orders", prebuild=True)
def _replace_where_path(spark: SparkSession, sf_dir: str) -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = scratch_dir("orders_replace_where_")
    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    versioned.write_version(o, path, 0, partition_by=["o_orderpriority"])
    repl = (
        o.filter("o_orderpriority = '2-HIGH' AND o_orderkey % 2 = 0")
        .withColumn("o_orderstatus", F.lit("R"))
    )
    stats = versioned.replace_where(
        spark, path, repl, "o_orderpriority = '2-HIGH'")
    assert stats["files_rewritten"] == 0 and stats["files_dropped"] >= 1, (
        "REPLACE WHERE on an aligned table must be a metadata-only "
        "drop plus an aligned insert"
    )
    return path


def snapshot_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _replace_where_path(spark, sf_dir)
    return (
        versioned.read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("total_sales"),
            F.expr("SUM(CASE WHEN o_orderstatus = 'R' THEN 1 ELSE 0 END)")
            .alias("n_replaced"),
        )
    )


QUERIES["snapshot_replace_where"] = snapshot_replace_where

ORACLES["snapshot_replace_where"] = """
    WITH final_t AS (
        SELECT o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderpriority <> '2-HIGH'
        UNION ALL
        SELECT 'R' AS o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderpriority = '2-HIGH' AND o_orderkey % 2 = 0
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_sales,
           SUM(CASE WHEN o_orderstatus = 'R' THEN 1 ELSE 0 END)
               AS n_replaced
    FROM final_t GROUP BY o_orderpriority
"""


@session_memo("defaults_orders", prebuild=True)
def _default_columns_path(spark: SparkSession, sf_dir: str) -> str:
    """Fixture for the column-DEFAULT oracle row: a versioned orders
    table where v0 holds every third order with its REAL status, a
    metadata-only commit declares ``o_orderstatus DEFAULT 'D'``, and a
    Data-Source fast append then loads another slice WITHOUT the
    status column — the stored literal is injected EXECUTOR-side by
    the Arrow writer (the most adversarial of the three default
    paths: no SparkSession exists where the value lands). Built once
    per session; the driver's oracle gate then replays the final
    state relationally."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    path = scratch_dir("orders_defaults_")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    versioned.write_version(o.filter("o_orderkey % 3 = 0"), path, 0)
    versioned.set_column_default(spark, path, "o_orderstatus", "'D'")
    ensure_registered(spark)
    (o.filter("o_orderkey % 3 = 1")
     .drop("o_orderstatus")
     .write.format("versioned").mode("append")
     .option("path", path).save())
    assert versioned._table_defaults(path)["o_orderstatus"]["value"] \
        == "D"
    return path


def snapshot_default_columns(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _default_columns_path(spark, sf_dir)
    return (
        versioned.read_version(spark, path)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_orders"),
             F.expr("CAST(MIN(o_orderkey) AS BIGINT)").alias("min_key"))
    )


QUERIES["snapshot_default_columns"] = snapshot_default_columns

ORACLES["snapshot_default_columns"] = """
    WITH final_t AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 'D' AS o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM final_t GROUP BY 1, 2
"""
