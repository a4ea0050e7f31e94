"""Decision-support tail (TPC-H Q6-Q22 adaptations) — semantics the
differential oracle alone can't distinguish from luck, plus the plan
shapes that make these queries survive 100 TB."""

from pyspark.sql import functions as F

from proxyhouse_spark import registry
from proxyhouse_spark.tables import table
from tests.conftest import SF_SMALL
from test_plans import plan_of, tree_of  # the module pytest collects: one plan cache


def test_customer_distribution_preserves_zero_order_customers(spark):
    """Q13's trap: the priority filter must live in the LEFT JOIN's ON
    clause. Every customer appears in exactly one bucket, so the bucket
    counts partition the customer table — a filter pushed to WHERE would
    drop zero-order customers and break the partition."""
    dist = registry.QUERIES["q_customer_distribution"](spark, SF_SMALL)
    n_cust = table(spark, SF_SMALL, "customer").count()
    assert dist.agg(F.sum("custdist")).collect()[0][0] == n_cust


def test_small_qty_threshold_matches_rational_boundary(spark):
    """Q17's cross-multiplied BIGINT predicate (5*qty*n < sum) must equal
    the rational l_quantity < 0.2*avg on boundary rows. A part whose avg
    is exactly 25 makes qty=5 the knife edge: 5*5*n == sum rejects it —
    strict inequality, no float fuzz deciding."""
    rows = [
        (1, 5.0), (1, 45.0), (1, 4.0),
        (2, 10.0), (2, 10.0),
        # part 4 is the actual knife edge: sum=50, n=2, avg=25 →
        # 0.2*avg = 5 exactly; 5*5*2 == 50 — strict < must REJECT qty 5
        (4, 5.0), (4, 45.0),
    ]
    df = spark.createDataFrame(rows, "l_partkey int, l_quantity double")
    stats = df.groupBy("l_partkey").agg(
        F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    joined = df.join(stats, "l_partkey").where(
        5 * F.round("l_quantity").cast("bigint") * F.col("n_lines")
        < F.col("sum_qty")
    )
    kept = [(r.l_partkey, r.l_quantity) for r in joined.collect()]
    # part 1: sum=54, n=3 → threshold 54/15=3.6 → only qty 4? 5*4*3=60>54 no;
    # qty 5: 75>54 no → nothing survives BUT the exact rational says
    # 0.2*avg(18)=3.6 → qty 4 and 5 both >= 3.6 → correctly rejected.
    # part 2: sum=20, n=2 → 5*10*2=100 > 20 → rejected (10 >= 0.2*10=2).
    assert kept == []
    # and a row strictly under the boundary survives
    df2 = spark.createDataFrame(
        [(3, 1.0), (3, 50.0)], "l_partkey int, l_quantity double"
    )
    stats2 = df2.groupBy("l_partkey").agg(
        F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    kept2 = (
        df2.join(stats2, "l_partkey")
        .where(
            5 * F.round("l_quantity").cast("bigint") * F.col("n_lines")
            < F.col("sum_qty")
        )
        .collect()
    )
    # avg=25.5, 0.2*avg=5.1 → qty 1 survives (5*1*2=10 < 51)
    assert [(r.l_partkey, r.l_quantity) for r in kept2] == [(3, 1.0)]


def test_large_orders_preaggregates_before_joins(spark):
    """Q18's scale property: the HAVING aggregation on lineitem happens
    BELOW both dimension joins — the joins see only qualifying orders."""
    tree = tree_of(plan_of(spark, "q_large_orders"))
    # the quantity pre-agg is the only non-broadcast exchange before the
    # final TakeOrdered; orders/customer attach as broadcast hash joins
    assert "TakeOrderedAndProject" in tree
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree


def test_volume_shipping_broadcasts_both_nation_sides(spark):
    """Q7 joins nation twice; both must broadcast (a nation SMJ at 100 TB
    would shuffle the fact table against a 25-row dimension)."""
    tree = tree_of(plan_of(spark, "q_volume_shipping"))
    assert tree.count("BroadcastHashJoin") >= 4  # orders/customer/n1/n2
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_waiting_suppliers_scans_lineitem_once(spark):
    """Q21's one-pass rewrite (the Spark side; the EXISTS pair stays as
    the oracle): lineitem must be scanned exactly once — the literal
    decorrelated spelling scans it three times and shuffles
    lineitem-vs-lineitem twice."""
    tree = tree_of(plan_of(spark, "q_waiting_suppliers"))
    assert "CartesianProduct" not in tree
    # exactly three parquet scans: lineitem, orders, supplier
    assert tree.count("Scan parquet") == 3


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 is the pushdown canary: every predicate is scan-eligible."""
    plan = plan_of(spark, "q_forecast_revenue")
    assert "PushedFilters" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
        assert frag in pushed, f"{frag} not pushed to the parquet scan"
