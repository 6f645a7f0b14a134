"""Customer/behavioral analytics operators (SURVEY §2.6 extension
surface): cohort revenue retention, RFM segmentation, market-basket
affinity — the standard decision-support queries a warehouse user runs
daily, each as one declarative Catalyst tree with a DuckDB oracle.

Determinism rules applied throughout (they are what make these
oracle-checkable): money sums as exact bigint cents (float summation
order differs between engines), NTILE orderings tie-broken on the key,
top-k fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weather_stream_processor_spark.plans.caching import truncate_lineage
from weather_stream_processor_spark.plans.convergence import guard_converged
from weather_stream_processor_spark.registry import register
from weather_stream_processor_spark.sources import load_table


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


@register(
    "cohort_revenue_retention",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   date_trunc('month', MIN(o_orderdate)) AS cohort_month
            FROM orders GROUP BY o_custkey
        )
        SELECT f.cohort_month,
               CAST(date_diff('month', f.cohort_month,
                              date_trunc('month', o.o_orderdate)) AS BIGINT)
                   AS months_since,
               COUNT(DISTINCT o.o_custkey) AS n_active,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) / 100.0 AS revenue
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    """,
    doc=(
        "COHORT REVENUE RETENTION: customers grouped by first-order month, "
        "revenue and active count tracked by months-since-acquisition — "
        "the LTV curve. The first-order table is a per-customer aggregate "
        "(|customers|-sized, broadcastable); the fact join and the final "
        "rollup both shuffle on custkey-derived keys. Revenue sums exact "
        "bigint cents: with ~thousands of (cohort, age) cells, float "
        "summation order WILL hit a rounding boundary somewhere."
    ),
    tags=("analytics", "cohort", "aggregation"),
)
def cohort_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    joined = o.join(F.broadcast(firsts), "o_custkey")
    months_since = F.months_between(
        F.date_trunc("month", F.col("o_orderdate")), F.col("cohort_month")
    ).cast("bigint")
    return joined.groupBy(
        "cohort_month", months_since.alias("months_since")
    ).agg(
        F.countDistinct("o_custkey").alias("n_active"),
        (F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
    )


@register(
    "rfm_segments",
    oracle="""
        WITH agg AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey AS c_custkey,
               NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
        FROM agg
    """,
    doc=(
        "RFM SEGMENTATION: quintile scores for recency / frequency / "
        "monetary per customer. Every NTILE ordering tie-breaks on the "
        "customer key — without that, equal metric values land in "
        "engine-dependent quintiles and the result is not reproducible "
        "(same reason df.sample is banned from the sampling operators). "
        "Scale form: exact_global_ntiles (see operators/windows.py) — "
        "coarse percentile cutoffs + PARTITIONED rank windows + collected "
        "per-bucket offsets, all three metrics' cutoffs and counts in one "
        "aggregate pass each over the persisted per-customer aggregate. "
        "Bit-for-bit NTILE semantics; no unpartitioned WindowExec. "
        "Recency ranks on unix_micros(last_order) — strictly monotonic in "
        "the timestamp, numeric for percentile cutoffs."
    ),
    tags=("analytics", "window", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    # persisted via persisted_result: exact_global_ntiles makes two
    # tiny-output passes (cutoffs, per-bucket counts) before the final
    # one — don't re-run the groupBy; the wrapper releases the cache once
    # the O(customers) scored output is materialized (r3 advice: the bare
    # persist leaked a cached copy per invocation).
    return persisted_result(_rfm_aggregate(spark, sf_dir), _rfm_tree)


def _rfm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("last_order_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents("o_totalprice")).alias("monetary_cents"),
    )


def _rfm_tree(agg: DataFrame) -> DataFrame:
    from weather_stream_processor_spark.operators.windows import exact_global_ntiles

    scored = exact_global_ntiles(
        agg,
        [
            (5, ["last_order_us", "o_custkey"], "r_score"),
            (5, ["frequency", "o_custkey"], "f_score"),
            (5, ["monetary_cents", "o_custkey"], "m_score"),
        ],
    )
    return scored.select(
        F.col("o_custkey").alias("c_custkey"), "r_score", "f_score", "m_score"
    )


@register(
    "brand_affinity_pairs",
    oracle="""
        WITH ob AS (
            SELECT DISTINCT l_orderkey, p_brand
            FROM lineitem JOIN part ON p_partkey = l_partkey
        )
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_orders
        FROM ob a
        JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        ORDER BY n_orders DESC, brand_a, brand_b
        LIMIT 20
    """,
    doc=(
        "MARKET-BASKET AFFINITY (frequent-itemset support, pairs): brands "
        "co-occurring in an order, top 20 by support with full "
        "tie-breaks. The DISTINCT (order, brand) projection collapses the "
        "fact to basket-grain BEFORE the self-join, so the quadratic step "
        "is per-basket over |distinct brands in basket| (tiny, bounded by "
        "the 25-brand dimension) — the same collapse-then-pair shape as "
        "the shingle inverted index in dedup. Part is broadcast into the "
        "fact scan."
    ),
    tags=("analytics", "join", "basket"),
)
def brand_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p = (load_table(spark, sf_dir, t) for t in ("lineitem", "part"))
    ob = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("k2"), F.col("p_brand").alias("brand_b"))
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
    )


@register(
    "daily_user_accession",
    oracle="""
        WITH d AS (
            SELECT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        active AS (
            SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
            FROM d GROUP BY day
        ),
        firsts AS (
            SELECT user_id, MIN(day) AS day FROM d GROUP BY user_id
        ),
        news AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY day
        )
        SELECT a.day, a.n_active,
               COALESCE(n.n_new, 0) AS n_new,
               CAST(SUM(COALESCE(n.n_new, 0)) OVER (
                   ORDER BY a.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM active a LEFT JOIN news n USING (day)
    """,
    doc=(
        "Daily active / new / cumulative users — the DAU & accession "
        "curve every growth dashboard starts from. Actives are an exact "
        "distinct count per day (partial aggregation on (day, user) "
        "first, so the shuffle carries one row per active pair, not per "
        "event); new users come from the per-user MIN(day) first-seen "
        "aggregate; the cumulative sum runs over the DAY SPINE — "
        "cardinality O(days), thousands of rows at any corpus size, so "
        "the unpartitioned window is spine-sized by construction, never "
        "data-sized (same argument as forward_fill_hourly). At 100 TB "
        "the per-user first-seen table is the one big shuffle and it is "
        "keyed, mergeable, and incrementally maintainable."
    ),
    tags=("analytics", "timeseries"),
)
def daily_user_accession(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(F.to_date("ts").alias("day"), "user_id")
    active = d.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
    firsts = d.groupBy("user_id").agg(F.min("day").alias("day"))
    news = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    joined = active.join(news, "day", "left").withColumn(
        "n_new", F.coalesce("n_new", F.lit(0).cast("bigint"))
    )
    spine = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "day",
        "n_active",
        "n_new",
        F.sum("n_new").over(spine).cast("bigint").alias("cum_users"),
    )


@register(
    "skyline_size_price",
    oracle="""
        WITH best AS (
            SELECT p_size,
                   MIN(p_retailprice) AS best_price,
                   CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part GROUP BY p_size
        ),
        ranked AS (
            SELECT *,
                   MIN(best_price) OVER (
                       ORDER BY p_size DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS better_above
            FROM best
        )
        SELECT p_size, best_price, n_parts
        FROM ranked
        WHERE better_above IS NULL OR best_price < better_above
    """,
    doc=(
        "Pareto frontier (skyline) over parts on (size max-better, price "
        "min-better): a size is on the frontier iff its cheapest part is "
        "strictly cheaper than every larger size's cheapest. Computed as "
        "groupBy(p_size).min — the only pass over the table — then a "
        "running-min window over the AGGREGATED sizes. The window is "
        "unpartitioned but its input is the size DOMAIN (<=50 rows at any "
        "scale factor), not the table: the skyline property is mergeable, "
        "so the general-schema version does local skylines per partition "
        "first and merges survivors the same way. No quadratic dominance "
        "join anywhere."
    ),
    tags=("analytics", "skyline"),
)
def skyline_size_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    best = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("best_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    w = (
        Window.orderBy(F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = best.withColumn("better_above", F.min("best_price").over(w))
    return ranked.filter(
        F.col("better_above").isNull()
        | (F.col("best_price") < F.col("better_above"))
    ).select("p_size", "best_price", "n_parts")


# Shared CTE chain: brand co-purchase graph with top-quintile-support edges
# (oriented b1 < b2) and its once-per-triangle enumeration — used by the
# triangle operator and the clustering-coefficient profile.
_BRAND_GRAPH_CTES = """
        ob AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
            SELECT a.p_brand AS b1, b.p_brand AS b2,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        ),
        cut AS (SELECT quantile_cont(support, 0.8) AS q FROM pairs),
        edges AS (SELECT b1, b2 FROM pairs, cut WHERE support > q),
        tris AS (
            SELECT e1.b1 AS ba, e1.b2 AS bb, e2.b2 AS bc
            FROM edges e1
            JOIN edges e2 ON e1.b2 = e2.b1
            JOIN edges e3 ON e3.b1 = e1.b1 AND e3.b2 = e2.b2
        )"""


def _co_purchase_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(b1 < b2, support) brand co-purchase pair counts via the BASKET
    formulation: collapse the fact to one sorted brand-set array per order
    (collect_set dedupes — identical semantics to the DISTINCT projection),
    then expand each order's pairs MAP-SIDE with array HOFs and count. One
    orderkey-keyed shuffle + one pair-keyed shuffle — strictly fewer
    exchanges than the distinct + self-join plan (which re-shuffles both
    self-join sides on the orderkey), measured ~1.9x faster at sf0.1 with
    a bit-identical pair table. Per-order brand sets are bounded by the
    brand domain, so the array expansion is O(|basket|^2) per row with a
    tiny constant — the same bound the self-join had per orderkey group."""

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # r11 (guide §2.4): every edge builder feeds this pair table into a
    # quantile cut AND the threshold filter (two consumers), so the
    # fact-scale basket pipeline physically executed twice per graph
    # query. The pair table is bounded by |brands|^2/2 rows (~300):
    # lineage-cut it so the lineitem join + explode run ONCE (A/B sf0.1:
    # label_propagation 3.60 → 2.76 s, pagerank 5.99 → 3.65 s).
    return truncate_lineage(
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("bs"),
                        lambda b1, i: F.transform(
                            F.slice(F.col("bs"), i + 2, F.size("bs")),
                            lambda b2: F.struct(b1.alias("b1"), b2.alias("b2")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.b1", "p.b2")
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (b1 < b2) top-quintile-support co-purchase edges."""
    pairs = _co_purchase_support(spark, sf_dir)
    cut = pairs.agg(F.percentile("support", F.lit(0.8)).alias("q"))
    return (
        pairs.crossJoin(F.broadcast(cut))
        .filter(F.col("support") > F.col("q"))
        .select("b1", "b2")
    )


def _brand_triangles(edges: DataFrame) -> DataFrame:
    e1 = edges.select(F.col("b1").alias("ba"), F.col("b2").alias("bb"))
    e2 = edges.select(F.col("b1").alias("bb"), F.col("b2").alias("bc"))
    e3 = edges.select(F.col("b1").alias("ba"), F.col("b2").alias("bc"))
    return (
        e1.join(F.broadcast(e2), "bb")
        .join(F.broadcast(e3), ["ba", "bc"])
        .select("ba", "bb", "bc")
    )


@register(
    "brand_triangle_communities",
    oracle=f"""
        WITH {_BRAND_GRAPH_CTES}
        SELECT ba, bb, bc FROM tris
    """,
    doc=(
        "Triangle enumeration on the brand co-purchase graph: nodes are "
        "brands, edges are brand pairs co-occurring in the same order with "
        "top-quintile support, triangles via the oriented two-path + "
        "closing-edge join (a<b<c ordering means each triangle is emitted "
        "exactly once and the join graph is acyclic). Co-occurrence pairs "
        "come from the shared basket-array builder (one orderkey-keyed "
        "collapse, pairs expanded map-side — per-order brand sets are "
        "tiny); "
        "the edge set is bounded by the BRAND domain (25 nodes -> <=300 "
        "edges), so the triangle joins are broadcast-trivial. For general "
        "graphs the same plan holds with degree-based orientation "
        "(lower-degree endpoint first) bounding the two-path fan-out — "
        "the standard MapReduce triangle count."
    ),
    tags=("analytics", "graph"),
)
def brand_triangle_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _brand_triangles(_brand_edges(spark, sf_dir))


_PR_DAMP = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as a DuckDB CTE chain."""
    steps = []
    prev = "p0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""p{i} AS (
            SELECT e.dst AS brand,
                   (1 - {_PR_DAMP}) / n.n + {_PR_DAMP} * SUM(p.rank / d.deg) AS rank
            FROM edges e
            JOIN {prev} p ON p.brand = e.src
            JOIN deg d ON d.brand = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.n
        )"""
        )
        prev = f"p{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH ob AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
            SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS support
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        ),
        cut AS (SELECT quantile_cont(support, 0.5) AS q FROM pairs),
        edges AS (
            SELECT b1 AS src, b2 AS dst FROM pairs, cut WHERE support > q
            UNION ALL
            SELECT b2 AS src, b1 AS dst FROM pairs, cut WHERE support > q
        ),
        deg AS (
            SELECT src AS brand, CAST(COUNT(*) AS DOUBLE) AS deg
            FROM edges GROUP BY src
        ),
        n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM edges),
        p0 AS (
            SELECT DISTINCT e.src AS brand, 1.0 / n.n AS rank
            FROM edges e CROSS JOIN n
        ),
        {chain}
        SELECT brand, ROUND(rank, 6) AS pagerank FROM p{_PR_ITERS}
    """


@register(
    "pagerank_brand_graph",
    oracle=_pagerank_oracle(),
    doc=(
        "Fixed-iteration PageRank (d=0.85, 5 rounds) over the brand "
        "co-purchase graph: nodes are brands, undirected edges are brand "
        "pairs with above-median same-order support. Each round is one "
        "join-aggregate -- rank mass flows src->dst divided by out-degree "
        "-- expressed as a Python loop building a single Catalyst tree; "
        "with every node keeping an out-edge (undirected construction) "
        "there is no dangling mass, so total rank stays 1 and the "
        "fixed-round output is deterministic and SQL-checkable (the "
        "oracle unrolls the same five rounds as a CTE chain). The "
        "iteration state is the O(|nodes|) rank vector, never the graph: "
        "at 100 TB the edge list partitions by src and each round is one "
        "shuffle of the rank vector -- the standard Pregel-as-join "
        "formulation; for web-scale graphs swap in checkpointed lineage "
        "truncation exactly as dedup_connected_components does."
    ),
    tags=("analytics", "graph", "iterative"),
)
def pagerank_brand_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the directed edge list feeds every one of the _PR_ITERS rounds plus
    # the degree/count/seed subtrees, and Catalyst does not dedupe common
    # subexpressions — the r11 lineage cut inside _brand_median_edges makes
    # the co-purchase join execute once instead of ~3x per round (the r9
    # persist form measured 15.2 s -> 3 s at sf0.1; the cut+repartition
    # form shaves the doubled round stages on top, 4.04 -> 3.46 s)
    return truncate_lineage(_pagerank_tree(_brand_median_edges(spark, sf_dir)))


def _pagerank_tree(edges: DataFrame) -> DataFrame:
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    n_df = edges.agg(F.countDistinct("src").cast("double").alias("n"))
    ranks = (
        edges.select("src")
        .distinct()
        .crossJoin(F.broadcast(n_df))
        .select(F.col("src").alias("brand"), (1.0 / F.col("n")).alias("rank"))
    )
    for _ in range(_PR_ITERS):
        # rank vector and degree table are O(|brands|): broadcast both so a
        # round never shuffles the edge list (Catalyst can't size these
        # post-aggregate subtrees on its own — without the hint it SMJs)
        msgs = (
            edges.join(F.broadcast(ranks.withColumnRenamed("brand", "src")), "src")
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("s"))
        )
        ranks = msgs.crossJoin(F.broadcast(n_df)).select(
            F.col("dst").alias("brand"),
            ((1 - _PR_DAMP) / F.col("n") + _PR_DAMP * F.col("s")).alias("rank"),
        )
    return ranks.select("brand", F.round("rank", 6).alias("pagerank"))


@register(
    "brand_clustering_coefficient",
    oracle=f"""
        WITH {_BRAND_GRAPH_CTES},
        und AS (
            SELECT b1 AS brand, b2 AS nb FROM edges
            UNION ALL
            SELECT b2 AS brand, b1 AS nb FROM edges
        ),
        deg AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY brand
        ),
        tmem AS (
            SELECT ba AS brand FROM tris
            UNION ALL SELECT bb FROM tris
            UNION ALL SELECT bc FROM tris
        ),
        tcnt AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM tmem GROUP BY brand
        )
        SELECT d.brand, d.degree,
               COALESCE(t.n_triangles, 0) AS n_triangles,
               ROUND(2.0 * COALESCE(t.n_triangles, 0)
                     / (d.degree * (d.degree - 1)), 6) AS clustering_coef
        FROM deg d LEFT JOIN tcnt t USING (brand)
        WHERE d.degree >= 2
    """,
    doc=(
        "Local clustering coefficient per brand: 2*T(v) / (deg(v) * "
        "(deg(v)-1)) -- how close each node's neighborhood is to a clique, "
        "the community-tightness score next to the triangle listing. "
        "Reuses the oriented triangle enumeration (each triangle counted "
        "once, then credited to its three corners by a union of three "
        "projections -- no second join) and the undirected degree table; "
        "everything after the co-purchase pair expansion is bounded by the "
        "brand domain. Nodes of degree < 2 are excluded (coefficient "
        "undefined)."
    ),
    tags=("analytics", "graph"),
)
def brand_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _brand_edges(spark, sf_dir)
    tris = _brand_triangles(edges)
    und = edges.select(F.col("b1").alias("brand")).unionAll(
        edges.select(F.col("b2").alias("brand"))
    )
    deg = und.groupBy("brand").agg(F.count(F.lit(1)).alias("degree"))
    tmem = (
        tris.select(F.col("ba").alias("brand"))
        .unionAll(tris.select(F.col("bb").alias("brand")))
        .unionAll(tris.select(F.col("bc").alias("brand")))
    )
    tcnt = tmem.groupBy("brand").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        deg.join(tcnt, "brand", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "brand",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )


@register(
    "benford_digit_profile",
    oracle="""
        WITH cents AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
            FROM orders WHERE o_totalprice > 0
        ),
        digits AS (
            SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM cents
        ),
        counts AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM digits GROUP BY digit
        ),
        tot AS (SELECT SUM(n_orders) AS total FROM counts)
        SELECT digit, n_orders,
               ROUND(n_orders * 1.0 / tot.total, 6) AS observed_share,
               ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_share,
               ROUND((n_orders * 1.0 / tot.total
                      - ln(1.0 + 1.0 / digit) / ln(10.0))
                     * (n_orders * 1.0 / tot.total
                        - ln(1.0 + 1.0 / digit) / ln(10.0))
                     / (ln(1.0 + 1.0 / digit) / ln(10.0)), 9) AS chi2_term
        FROM counts CROSS JOIN tot
    """,
    doc=(
        "Benford's-law screen on order amounts -- the forensic "
        "data-quality check that catches fabricated or re-scaled numeric "
        "feeds before they poison training statistics: first significant "
        "digit distribution vs log10(1 + 1/d), with per-digit chi-square "
        "contributions. The first digit comes from the INTEGER cents "
        "value via string head, never floor(log10(x)) -- log10(1000.0) "
        "can evaluate to 2.9999... and misbin a power of ten, and the "
        "string path is engine-identical on integers. One scan, a "
        "9-row aggregate, a broadcast total."
    ),
    tags=("analytics", "quality", "stats"),
)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = counts.agg(F.sum("n_orders").alias("total"))
    obs = F.col("n_orders") / F.col("total")
    benford = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        F.round(obs, 6).alias("observed_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round((obs - benford) * (obs - benford) / benford, 9).alias("chi2_term"),
    )


@register(
    "brand_association_rules",
    oracle="""
        WITH ob AS (
            SELECT DISTINCT l_orderkey, p_brand
            FROM lineitem JOIN part ON p_partkey = l_partkey
        ),
        n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets
              FROM ob),
        item AS (
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS sup FROM ob GROUP BY 1
        ),
        pair AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS sup_ab
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
            GROUP BY 1, 2
        )
        SELECT p.brand_a, p.brand_b, p.sup_ab,
               ROUND(p.sup_ab * 1.0 / ia.sup, 6) AS confidence,
               ROUND((p.sup_ab * 1.0 / ia.sup) / (ib.sup / n.n_baskets), 6)
                   AS lift
        FROM pair p
        JOIN item ia ON ia.p_brand = p.brand_a
        JOIN item ib ON ib.p_brand = p.brand_b
        CROSS JOIN n
        ORDER BY lift DESC, confidence DESC, brand_a, brand_b
        LIMIT 30
    """,
    doc=(
        "ASSOCIATION RULES (directed a->b, confidence + lift) over the "
        "brand co-purchase baskets — the rule-mining step after "
        "brand_affinity_pairs' support counts. Same collapse-then-pair "
        "shape: DISTINCT (order, brand) first, so the quadratic step is "
        "per-basket over the tiny per-order brand set; item supports and "
        "the basket count are dimension-sized broadcasts into the rule "
        "projection. Top-30 by lift with full tie-breaks (lift, "
        "confidence, brand_a, brand_b) -> TakeOrderedAndProject, no "
        "global sort. At 100 TB the only fact-sized shuffles are the "
        "DISTINCT and the orderkey self-join co-partitioned on the same "
        "key; everything downstream is |brands|^2 ~ 600 rows."
    ),
    tags=("analytics", "basket", "join"),
)
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p = (load_table(spark, sf_dir, t) for t in ("lineitem", "part"))
    ob = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(ob: DataFrame) -> DataFrame:
        n = ob.agg(
            F.countDistinct("l_orderkey").cast("double").alias("n_baskets")
        )
        item = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("sup"))
        a = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_a"))
        b = ob.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand_b"))
        pair = (
            a.join(b, "k")
            .filter(F.col("brand_a") != F.col("brand_b"))
            .groupBy("brand_a", "brand_b")
            .agg(F.count(F.lit(1)).alias("sup_ab"))
        )
        ia = item.select(F.col("p_brand").alias("brand_a"), F.col("sup").alias("sup_a"))
        ib = item.select(F.col("p_brand").alias("brand_b"), F.col("sup").alias("sup_b"))
        conf = F.col("sup_ab") / F.col("sup_a")
        lift = conf / (F.col("sup_b") / F.col("n_baskets"))
        return (
            pair.join(F.broadcast(ia), "brand_a")
            .join(F.broadcast(ib), "brand_b")
            .crossJoin(F.broadcast(n))
            .select(
                "brand_a",
                "brand_b",
                "sup_ab",
                F.round(conf, 6).alias("confidence"),
                F.round(lift, 6).alias("lift"),
            )
            .orderBy(
                F.desc("lift"), F.desc("confidence"), F.asc("brand_a"), F.asc("brand_b")
            )
            .limit(30)
        )

    return persisted_result(ob, build)


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation as a DuckDB CTE chain."""
    steps = []
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        steps.append(
            f"""v{i} AS (
            SELECT e.dst AS brand, l.label, COUNT(*) AS votes
            FROM edges e JOIN {prev} l ON l.brand = e.src
            GROUP BY 1, 2
        ),
        l{i} AS (
            SELECT brand, label FROM (
                SELECT brand, label,
                       ROW_NUMBER() OVER (
                           PARTITION BY brand
                           ORDER BY votes DESC, label ASC
                       ) AS rn
                FROM v{i}
            ) WHERE rn = 1
        )"""
        )
        prev = f"l{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH ob AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
            SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS support
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        ),
        cut AS (SELECT quantile_cont(support, 0.5) AS q FROM pairs),
        edges AS (
            SELECT b1 AS src, b2 AS dst FROM pairs, cut WHERE support > q
            UNION ALL
            SELECT b2 AS src, b1 AS dst FROM pairs, cut WHERE support > q
        ),
        l0 AS (SELECT DISTINCT src AS brand, src AS label FROM edges),
        {chain}
        SELECT brand, label AS community FROM l{_LPA_ITERS}
    """


@register(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
    doc=(
        "LABEL PROPAGATION community detection (synchronous, 3 rounds) on "
        "the brand co-purchase graph (above-median-support undirected "
        "edges, same construction as pagerank_brand_graph). Each round is "
        "one join-aggregate-window: neighbor labels are counted per node "
        "and the plurality label wins with a min-label tie-break — "
        "SYNCHRONOUS updates plus the deterministic tie-break is what "
        "makes fixed-round LPA oracle-checkable (async LPA is "
        "schedule-dependent and unverifiable). The per-node vote window "
        "partitions by node, never global. Iteration state is the "
        "O(|nodes|) label vector — the Pregel-as-join shape: at 100 TB "
        "the edge list partitions by src once and every round reuses "
        "that partitioning, shuffling only the label vector; web-scale "
        "runs add the checkpointed lineage truncation used by "
        "dedup_connected_components."
    ),
    tags=("analytics", "graph", "iterative"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: the edge frame arrives lineage-cut and AQE-sized from
    # _brand_median_edges (see its docstring), so the rounds run over a
    # materialized right-sized frame; the result cut keeps the
    # persisted_result contract (O(result) storage, nothing cached).
    return truncate_lineage(
        _lpa_rounds(_brand_median_edges(spark, sf_dir), _LPA_ITERS)
    )


def _lpa_rounds(edges: DataFrame, iters: int) -> DataFrame:
    """Synchronous label propagation over ``edges(src, dst)`` (directed
    rows; pass both directions for an undirected graph). Every node that
    appears as a src starts labeled with itself; each round every node
    adopts the plurality label of its in-neighbors with a min-label
    tie-break. Deterministic for any graph — the property tests exercise
    it against a pure-Python reference on hypothesis-drawn graphs."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        votes = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("votes"), F.asc("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.select(
        F.col("node").alias("brand"), F.col("label").alias("community")
    )


def _brand_median_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (both directions) above-MEDIAN-support co-purchase edges —
    the pagerank_brand_graph construction, shared by label propagation.
    Pair counts come from the shared basket-array builder.

    r11 (guide §2.2/§2.6): the unionAll doubles the upstream partition
    count, so every iteration round of the consumers (pagerank / LPA)
    scheduled doubled map stages over a |brands|²-bounded edge table —
    task scheduling, not compute. repartition("src") lets AQE size the
    frame to its bytes (REPARTITION_BY_COL allows coalescing) and the
    lineage cut materializes it once for all rounds. A/B on pagerank at
    sf0.1 (interleaved, 3 pairs): 4.04 → 3.46 s min-of-3."""
    pairs = _co_purchase_support(spark, sf_dir)
    q = pairs.agg(F.percentile("support", F.lit(0.5)).alias("q"))
    kept = pairs.crossJoin(F.broadcast(q)).filter(F.col("support") > F.col("q"))
    fwd = kept.select(F.col("b1").alias("src"), F.col("b2").alias("dst"))
    rev = kept.select(F.col("b2").alias("src"), F.col("b1").alias("dst"))
    return truncate_lineage(fwd.unionAll(rev).repartition("src"))


_PATH_LEN = 5
_PATH_TOPK = 20


@register(
    "top_event_paths",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM ranked WHERE rn <= {_PATH_LEN}
            GROUP BY user_id
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM paths GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT {_PATH_TOPK}
    """,
    doc=(
        "TOP USER JOURNEYS: each user's first-5 event-type sequence "
        "(ordered by ts with event_id tie-break — without the tie-break, "
        "same-timestamp events make the path engine-dependent), counted "
        "and ranked — the onboarding-flow analysis behind funnel design. "
        "Spark side builds the ordered path with sort_array over "
        "collect_list(struct(rn, type)) inside a per-user aggregate "
        "(bounded: 5 rows per user survive the rank filter), then a "
        "path-keyed count and TakeOrderedAndProject for the top-20. "
        "Per-user windows partition by user_id; nothing global. At "
        "100 TB: the rank filter prunes the fact to 5|users| rows before "
        "any path materialization; path cardinality is bounded by "
        "|types|^5, so the final count is a small hash aggregate."
    ),
    tags=("analytics", "window", "sessionization"),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _PATH_LEN)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(_PATH_TOPK)
    )


_ATTR_WINDOW_DAYS = 7


@register(
    "attribution_last_touch",
    oracle=f"""
        WITH touched AS (
            SELECT event_type, value, ts, user_id,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS) OVER w
                       AS touch_type,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN ts END IGNORE NULLS) OVER w
                       AS touch_ts
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            )
        )
        SELECT COALESCE(CASE WHEN touch_ts >=
                                  ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
                             THEN touch_type END, 'direct') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(ROUND(value * 100000, 0) AS BIGINT)) AS BIGINT)
                   / 100000.0 AS attributed_value
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    doc=(
        "LAST-TOUCH ATTRIBUTION: each purchase credits the user's most "
        "recent preceding non-purchase event within a 7-day lookback; "
        "purchases with no in-window touch are 'direct'. One keyed window "
        "pass (partition user_id, order ts/event_id, 1-preceding frame) "
        "computes the last non-purchase touch via last(ignorenulls) over "
        "aligned CASE columns — the null-ness of touch_type and touch_ts "
        "aligns row-for-row, so both come from the same touch event with "
        "no join. Purchase values are quantized to exact 1e-5 bigint "
        "units before the channel sum (float summation order differs "
        "between engines across thousands of purchases). At 100 TB: one "
        "shuffle on user_id for the window, one dimension-sized channel "
        "aggregate; no self-join, no as-of join needed for the "
        "single-touch model (multi-touch would reuse asof_join_last_view's "
        "machinery)."
    ),
    tags=("analytics", "window", "attribution"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_from_events(load_table(spark, sf_dir, "events"))


def attribution_from_events(ev: DataFrame) -> DataFrame:
    """Last-touch core over any events-shaped frame — split out so the
    property tests can drive it on hypothesis-drawn journeys against a
    pure-Python reference."""
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touched = ev.select(
        "event_type",
        "value",
        "ts",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(wf)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(wf)
        .alias("touch_ts"),
    )
    in_window = F.col("touch_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS"
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(
                F.when(in_window, F.col("touch_type")), F.lit("direct")
            ).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.sum(F.round(F.col("value") * 100000, 0).cast("bigint"))
                / 100000.0
            ).alias("attributed_value"),
        )
    )


@register(
    "dau_mau_stickiness",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM ud),
        mau AS (
            SELECT d.day,
                   CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
            FROM days d JOIN ud u
              ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
            GROUP BY d.day
        ),
        dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
        )
        SELECT day, dau, mau,
               ROUND(dau * 1.0 / mau, 6) AS stickiness
        FROM dau JOIN mau USING (day)
    """,
    doc=(
        "DAU/MAU STICKINESS: daily active users over trailing-30-day "
        "active users, per day — the engagement ratio every product "
        "dashboard leads with. The fact collapses to the DISTINCT "
        "(user, day) activity grid first (the only event-scale stage, a "
        "map-side-partial distinct); the trailing window is a range join "
        "of the grid against the BROADCAST day spine (|days| rows), so "
        "the fan-out is 30x grid rows, never 30x events. Exact integer "
        "counts; one identical final division. At 100 TB the exact "
        "trailing COUNT DISTINCT re-scans 30 grid-days per day — the "
        "scale form keeps one HLL sketch per day and merges 30 sketches "
        "per point (see hll_mergeable_rollup), turning the range join "
        "into a |days|-row sketch merge with ~1% error."
    ),
    tags=("analytics", "retention", "join"),
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct().select(F.col("day").alias("d"))
    mau = (
        ud.join(
            F.broadcast(days),
            (F.col("day") >= F.col("d") - F.expr("INTERVAL 29 DAYS"))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("mau"))
        .select(F.col("d").alias("day"), "mau")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
    )


@register(
    "customer_order_gap_churn_risk",
    oracle="""
        WITH horizon AS (SELECT MAX(o_orderdate) AS today FROM orders),
        gaps AS (
            SELECT o_custkey,
                   CAST(date_diff('day',
                        lag(o_orderdate) OVER (
                            PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey),
                        o_orderdate) AS BIGINT) AS gap_days,
                   o_orderdate
            FROM orders
        )
        SELECT g.o_custkey AS c_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(quantile_cont(g.gap_days, 0.5), 1) AS median_gap_days,
               CAST(date_diff('day', MAX(g.o_orderdate), h.today)
                    AS BIGINT) AS days_since_last,
               (CAST(date_diff('day', MAX(g.o_orderdate), h.today)
                     AS DOUBLE)
                > 2.0 * quantile_cont(g.gap_days, 0.5)) AS at_risk
        FROM gaps g CROSS JOIN horizon h
        GROUP BY g.o_custkey, h.today
        HAVING COUNT(g.gap_days) >= 2
    """,
    doc=(
        "CHURN-RISK SCREEN from order cadence: per customer, the median "
        "inter-order gap vs days since their last order (horizon = the "
        "dataset's max order date) — at-risk when the silence exceeds "
        "2x their OWN median rhythm, the personalized churn definition "
        "CRM teams use instead of a global cutoff. Requires >= 2 gaps "
        "(>= 3 orders) so the median is meaningful. All inputs are "
        "exact integer day counts from one keyed lag window "
        "(o_orderkey tie-break for same-day orders); the median "
        "interpolates integer gaps (worst case x.5 — exactly "
        "representable, so rounding and the 2x comparison are "
        "engine-identical). The horizon is a one-row broadcast. At "
        "100 TB: one shuffle on custkey shared by window and "
        "aggregate; output is |customers|."
    ),
    tags=("analytics", "window", "retention", "statistics"),
)
def customer_order_gap_churn_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("today"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        "o_orderdate",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("bigint").alias("gap_days"),
    )
    med = F.percentile("gap_days", F.lit(0.5))
    since = F.datediff(F.col("today"), F.max("o_orderdate")).cast("bigint")
    return (
        gaps.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey", "today")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(med, 1).alias("median_gap_days"),
            since.alias("days_since_last"),
            (since.cast("double") > 2.0 * med).alias("at_risk"),
            F.count("gap_days").alias("_ngaps"),
        )
        .filter(F.col("_ngaps") >= 2)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "n_orders",
            "median_gap_days",
            "days_since_last",
            "at_risk",
        )
    )


@register(
    "weekday_hour_heatmap",
    oracle="""
        WITH cells AS (
            SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
                   CAST(hour(ts) AS BIGINT) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100000, 0) AS BIGINT))
                        AS BIGINT) AS value_e5
            FROM events GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(n_events) AS DOUBLE) AS total FROM cells)
        SELECT c.dow, c.hour, c.n_events,
               c.value_e5 / 100000.0 AS total_value,
               ROUND(c.n_events / t.total, 6) AS share
        FROM cells c CROSS JOIN tot t
    """,
    doc=(
        "WEEKDAY x HOUR ACTIVITY HEATMAP: event count, exact value sum, "
        "and share of total per (day-of-week, hour) cell — the calendar "
        "seasonality surface behind staffing and trigger-schedule "
        "decisions (the weekly cycle acf_daily_value detects, localized "
        "to its hours). Engine alignment is the trap here: Spark's "
        "dayofweek() is 1-based Sunday=1, DuckDB's is 0-based Sunday=0, "
        "so the builder subtracts 1 — a parity gate catches exactly this "
        "class of silent off-by-one. One hash aggregate with map-side "
        "partials into 168 cells; the total is a broadcast 1-row "
        "aggregate; value sums in exact 1e-5 units. At any scale this "
        "is a single scan."
    ),
    tags=("analytics", "aggregation", "timeseries"),
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100000, 0).cast("bigint")).alias(
            "value_e5"
        ),
    )
    tot = cells.agg(F.sum("n_events").cast("double").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n_events",
        (F.col("value_e5") / 100000.0).alias("total_value"),
        F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
    )


@register(
    "degree_assortativity",
    oracle=f"""
        WITH {_BRAND_GRAPH_CTES},
        und AS (
            SELECT b1 AS src, b2 AS dst FROM edges
            UNION ALL
            SELECT b2 AS src, b1 AS dst FROM edges
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM und GROUP BY src),
        stubs AS (
            SELECT ds.deg AS d_src, dd.deg AS d_dst
            FROM und u
            JOIN deg ds ON u.src = ds.node
            JOIN deg dd ON u.dst = dd.node
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
               ROUND(corr(d_src, d_dst), 6) AS assortativity
        FROM stubs
    """,
    doc=(
        "DEGREE ASSORTATIVITY (Newman 2002) of the brand co-purchase "
        "graph: Pearson correlation of endpoint degrees over the directed "
        "stub list (each undirected edge contributes both orientations — "
        "the standard symmetrization, so r is orientation-free). Negative "
        "r = hubs attach to the periphery (disassortative, typical of "
        "product graphs); positive = rich-club mixing. Plan: the edge "
        "list is grouped once for degrees (shuffle keyed on node), joined "
        "back twice — both joins broadcast because |nodes| is the brand "
        "domain — and reduced by the built-in corr() moment aggregate in "
        "one partial+final pass. At 100 TB the co-purchase edge builder "
        "dominates (same shape as brand_affinity_pairs); this suffix "
        "costs two broadcast joins + one scan of the edge list. The edge "
        "list feeds FIVE subtrees (two union legs, two degree joins, the "
        "node count), and Catalyst does not dedupe common subexpressions "
        "— so the builder runs them over a persisted_result copy of the "
        "(bounded, <= |brands|^2-row) edge table; the co-purchase join "
        "executes once, not five times."
    ),
    tags=("analytics", "graph", "statistics"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    return persisted_result(
        _brand_edges(spark, sf_dir), _degree_assortativity_tree
    )


def _degree_assortativity_tree(edges: DataFrame) -> DataFrame:
    und = edges.select(
        F.col("b1").alias("src"), F.col("b2").alias("dst")
    ).unionAll(edges.select(F.col("b2").alias("src"), F.col("b1").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    stubs = (
        und.join(F.broadcast(deg).withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "d_src")
        .join(
            F.broadcast(deg).withColumnRenamed("node", "dst").withColumnRenamed(
                "deg", "d_dst"
            ),
            "dst",
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        stubs.agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            F.round(F.corr("d_src", "d_dst"), 6).alias("assortativity"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .select("n_nodes", "n_edges", "assortativity")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Generate the unrolled peeling CTE chain (same trick as the pagerank
    oracle: a deterministic fixed number of rounds, identical in both
    engines, so the hash gate verifies every round's arithmetic)."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    # the previous one three times — un-materialized, the chain re-evaluates
    # upstream rounds ~3^i times (the mirror of the Spark-side lineage
    # truncation; without it the oracle exhausts file handles re-opening
    # the base parquet thousands of times)
    ctes = [
        """
        e0 AS MATERIALIZED (
            SELECT b1 AS src, b2 AS dst FROM edges
            UNION ALL
            SELECT b2 AS src, b1 AS dst FROM edges
        )"""
    ]
    for i in range(_KCORE_ROUNDS):
        ctes.append(
            f"""
        deg{i} AS (SELECT src, COUNT(*) AS d FROM e{i} GROUP BY src),
        keep{i} AS MATERIALIZED (SELECT src FROM deg{i} WHERE d >= {_KCORE_K}),
        e{i + 1} AS MATERIALIZED (
            SELECT a.src, a.dst FROM e{i} a
            JOIN keep{i} ks ON a.src = ks.src
            JOIN keep{i} kd ON a.dst = kd.src
        )"""
        )
    return (
        ",".join(ctes)
        + f"""
        SELECT src AS brand, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e{_KCORE_ROUNDS} GROUP BY src
    """
    )


@register(
    "kcore_decomposition",
    oracle=f"WITH {_BRAND_GRAPH_CTES},{_kcore_oracle()}",
    doc=(
        f"K-CORE EXTRACTION (k={_KCORE_K}) of the brand co-purchase "
        "graph by iterative peeling: repeatedly delete nodes of degree "
        f"< {_KCORE_K} and the edges they carry, {_KCORE_ROUNDS} "
        "synchronized rounds (enough for fixpoint on any graph whose "
        "peeling cascade is shorter — the fixture converges in <= 3; the "
        "oracle unrolls the SAME rounds as a generated CTE chain, so "
        "every round's degree arithmetic is hash-verified). The k-core "
        "is the standard dense-backbone extraction run before community "
        "detection and influence analysis — nodes outside it cannot sit "
        "in any clique or community of size k+1. Plan: each round is one "
        "degree aggregate (shuffle keyed on node) + two broadcast "
        "semi-joins of the |nodes|-bounded keep-list back into the edge "
        "list — the edge list itself never re-shuffles; rounds consume "
        "the persisted base edges. At web scale the peel loop runs to "
        "convergence with checkpointed lineage truncation exactly as "
        "dedup_connected_components does, O(peeling-depth) rounds."
    ),
    tags=("analytics", "graph", "iterative"),
)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    return persisted_result(_brand_edges(spark, sf_dir), _kcore_tree)


def _kcore_tree(edges: DataFrame) -> DataFrame:
    # each round references the previous round's edges THREE times (the
    # main join input + both keep-list broadcast builds), so an un-cut
    # lazy chain re-executes prior rounds ~3^i times — lineage is
    # truncated per round exactly as the CC loop does. The convergence
    # break collects a single count (bounded: one row), so a graph whose
    # cascade stops early never pays the remaining rounds.
    e = truncate_lineage(
        edges.select(F.col("b1").alias("src"), F.col("b2").alias("dst")).unionAll(
            edges.select(F.col("b2").alias("src"), F.col("b1").alias("dst"))
        )
    )
    prev = None
    converged = False
    # peek-then-commit (same off-by-one fix as the CC loops): the
    # i == _KCORE_ROUNDS iteration is confirmation-only and its candidate
    # is DISCARDED on the cap path, so the committed state matches the
    # oracle's exactly-N unrolled rounds while fixpoint-at-the-cap no
    # longer emits a spurious RuntimeWarning
    for i in range(_KCORE_ROUNDS + 1):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= _KCORE_K).select("src")
        nxt = truncate_lineage(
            e.join(F.broadcast(keep), "src")
            .join(
                F.broadcast(keep.withColumnRenamed("src", "dst")),
                "dst",
            )
            .select("src", "dst")
        )
        cur = nxt.count()  # 1-row driver check, same class as the CC checksum
        # edges only ever shrink, so an unchanged count IS the fixpoint
        if cur == prev:
            converged = True
            e = nxt
            break  # fixpoint: remaining unrolled rounds are no-ops
        if i == _KCORE_ROUNDS:
            break  # cap: keep the N-round state the oracle unrolls
        e, prev = nxt, cur
    # non-strict: the oracle unrolls the SAME truncated rounds, so the
    # result still matches the declared "within N rounds" semantics; the
    # warning flags that the true fixpoint may lie beyond the cap
    guard_converged(converged, "kcore_decomposition", _KCORE_ROUNDS, strict=False)
    return e.groupBy(F.col("src").alias("brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


_BFS_ROUNDS = 6


def _bfs_oracle() -> str:
    ctes = [
        """
        e0 AS MATERIALIZED (
            SELECT b1 AS src, b2 AS dst FROM edges
            UNION ALL
            SELECT b2 AS src, b1 AS dst FROM edges
        ),
        d0 AS MATERIALIZED (
            SELECT MIN(src) AS node, 0 AS dist FROM e0
        )"""
    ]
    for i in range(_BFS_ROUNDS):
        ctes.append(
            f"""
        d{i + 1} AS MATERIALIZED (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d{i}
                UNION ALL
                SELECT e.dst AS node, d.dist + 1 AS dist
                FROM e0 e JOIN d{i} d ON e.src = d.node
            ) GROUP BY node
        )"""
        )
    return (
        ",".join(ctes)
        + f"""
        SELECT node AS brand, CAST(dist AS BIGINT) AS distance
        FROM d{_BFS_ROUNDS}
    """
    )


@register(
    "bfs_shortest_paths",
    oracle=f"WITH {_BRAND_GRAPH_CTES},{_bfs_oracle()}",
    doc=(
        "SINGLE-SOURCE SHORTEST PATHS by synchronous BFS relaxation on "
        "the brand co-purchase graph (source = the lexicographic minimum "
        "node, deterministically derived — no literal to drift): each "
        f"round relaxes dist(n) = min(dist(n), dist(m)+1) over edges, "
        f"{_BFS_ROUNDS} rounds (>= any co-purchase diameter; the dense "
        "fixture graph converges in 2-3). The oracle unrolls the SAME "
        "rounds as generated MATERIALIZED CTEs — hash-verifying every "
        "relaxation — and the Spark loop truncates lineage per round "
        "with a convergence checksum, the k-core/CC pattern. Plan: each "
        "round is one equi-join of the (persisted) edge list with the "
        "O(|reached nodes|) distance vector + one min-aggregate keyed on "
        "node; the distance vector broadcasts, the edge list never "
        "re-shuffles. Unreached nodes are correctly absent. This is the "
        "Pregel-as-join BFS that underlies hop-count features, "
        "influence-radius screens, and graph-distance decontamination."
    ),
    tags=("analytics", "graph", "iterative"),
)
def bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    return persisted_result(_brand_edges(spark, sf_dir), _bfs_tree)


def _bfs_tree(edges: DataFrame) -> DataFrame:
    e = truncate_lineage(
        edges.select(F.col("b1").alias("src"), F.col("b2").alias("dst")).unionAll(
            edges.select(F.col("b2").alias("src"), F.col("b1").alias("dst"))
        )
    )
    dist = truncate_lineage(
        e.agg(F.min("src").alias("node")).select("node", F.lit(0).alias("dist"))
    )
    prev = None
    converged = False
    # peek-then-commit: see _kcore_tree — the i == _BFS_ROUNDS candidate
    # is discarded on the cap path so the committed state matches the
    # oracle's N unrolled rounds; at the fixpoint it is a no-op commit
    for i in range(_BFS_ROUNDS + 1):
        relaxed = e.join(
            F.broadcast(dist.withColumnRenamed("node", "src")), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        nxt = truncate_lineage(
            dist.unionAll(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))
        )
        # 1-row convergence checksum (same class as the CC loop's): the
        # distance multiset only ever grows/shrinks monotonically toward
        # the fixpoint, so an unchanged (count, sum) IS convergence
        row = nxt.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        cur = (row.n, row.s)
        if cur == prev:
            converged = True
            dist = nxt
            break
        if i == _BFS_ROUNDS:
            break  # cap: keep the N-round state the oracle unrolls
        dist, prev = nxt, cur
    # non-strict: see _kcore_tree — oracle matches the truncated rounds
    guard_converged(converged, "bfs_shortest_paths", _BFS_ROUNDS, strict=False)
    return dist.select("node", F.col("dist").cast("bigint").alias("distance")).select(
        F.col("node").alias("brand"), "distance"
    )


_CHURN_HORIZON_DAYS = 90


@register(
    "kaplan_meier_retention",
    oracle=f"""
        WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
        lives AS (
            SELECT o_custkey,
                   CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                        AS BIGINT) AS lifetime_days,
                   CASE WHEN date_diff('day', MAX(o_orderdate), ho.h)
                             > {_CHURN_HORIZON_DAYS}
                        THEN 1 ELSE 0 END AS churned
            FROM orders CROSS JOIN horizon ho
            GROUP BY o_custkey, ho.h
        ),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lives),
        grid AS (
            SELECT lifetime_days,
                   CAST(SUM(churned) AS BIGINT) AS n_churned,
                   CAST(COUNT(*) AS BIGINT) AS n_ending
            FROM lives GROUP BY lifetime_days
        ),
        risk AS (
            SELECT lifetime_days, n_churned,
                   CAST(t.n - COALESCE(SUM(n_ending) OVER (
                       ORDER BY lifetime_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_at_risk
            FROM grid CROSS JOIN n_tot t
        )
        SELECT lifetime_days, n_at_risk, n_churned,
               ROUND(EXP(SUM(LN(1.0 - n_churned * 1.0 / n_at_risk)) OVER (
                   ORDER BY lifetime_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                   AS survival
        FROM risk
        WHERE n_churned > 0 OR n_at_risk > 0
    """,
    doc=(
        "KAPLAN-MEIER SURVIVAL CURVE of customer lifetimes: lifetime = "
        "days between a customer's first and last order; a customer "
        f"whose last order sits more than {_CHURN_HORIZON_DAYS} days "
        "before the dataset horizon is a churn EVENT, anyone still "
        "ordering is CENSORED — the estimator that makes churn curves "
        "comparable when observation windows differ, which naive "
        "'percent churned by day N' gets wrong (it counts censored "
        "customers as survivors). S(t) = prod_{{u<=t}}(1 - d_u/n_u) "
        "computed as exp of a RUNNING SUM of ln(1 - d/n) — an ordered "
        "window over the DISTINCT-lifetime grid, which is bounded by "
        "the day-span of the dataset (hundreds of rows), never by "
        "customers: the documented-bounded window class (Zipf ranks, "
        "KS buckets). Everything upstream is one per-customer hash "
        "aggregate + one grid aggregate. The running sum's evaluation "
        "order is the window order in both engines, so the float "
        "product is reproducible and rounds cleanly at 6dp."
    ),
    tags=("analytics", "retention", "statistics", "window"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_order", "first_order")
            .cast("bigint")
            .alias("lifetime_days"),
            F.when(
                F.datediff(F.col("h"), F.col("last_order")) > _CHURN_HORIZON_DAYS,
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )

    # day-span-bounded grid, eagerly checkpointed (r11 scan audit, with
    # the weibull fit): the customer-scale aggregate and its orders
    # scans run once; n derives from the grid's own cell sizes
    grid = truncate_lineage(
        per_cust.groupBy("lifetime_days").agg(
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        )
    )
    n_tot = grid.agg(F.sum("n_ending").cast("bigint").alias("n"))
    w_prev = (
        Window.orderBy("lifetime_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.crossJoin(F.broadcast(n_tot)).select(
        "lifetime_days",
        "n_churned",
        (
            F.col("n")
            - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
    )
    return risk.select(
        "lifetime_days",
        "n_at_risk",
        "n_churned",
        F.round(
            F.exp(
                F.sum(F.log(1.0 - F.col("n_churned") / F.col("n_at_risk"))).over(
                    w_run
                )
            ),
            6,
        ).alias("survival"),
    ).filter((F.col("n_churned") > 0) | (F.col("n_at_risk") > 0))


@register(
    "weibull_survival_fit",
    oracle=f"""
        WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
        lives AS (
            SELECT o_custkey,
                   CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                        AS BIGINT) AS lifetime_days,
                   CASE WHEN date_diff('day', MAX(o_orderdate), ho.h)
                             > {_CHURN_HORIZON_DAYS}
                        THEN 1 ELSE 0 END AS churned
            FROM orders CROSS JOIN horizon ho
            GROUP BY o_custkey, ho.h
        ),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lives),
        grid AS (
            SELECT lifetime_days,
                   CAST(SUM(churned) AS BIGINT) AS n_churned,
                   CAST(COUNT(*) AS BIGINT) AS n_ending
            FROM lives GROUP BY lifetime_days
        ),
        risk AS (
            SELECT lifetime_days, n_churned,
                   CAST(t.n - COALESCE(SUM(n_ending) OVER (
                       ORDER BY lifetime_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_at_risk
            FROM grid CROSS JOIN n_tot t
        ),
        km AS (
            SELECT lifetime_days, n_churned,
                   ROUND(EXP(SUM(LN(1.0 - n_churned * 1.0 / n_at_risk))
                       OVER (ORDER BY lifetime_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)), 6) AS survival
            FROM risk
        ),
        pts AS (
            SELECT LN(CAST(lifetime_days AS DOUBLE)) AS x,
                   LN(-LN(survival)) AS y
            FROM km
            WHERE lifetime_days > 0 AND n_churned > 0
              AND survival > 0.0 AND survival < 1.0
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy,
                   SUM(y * y) AS syy
            FROM pts
        )
        SELECT m AS n_points,
               ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
                   AS shape_k,
               ROUND(EXP(-((sy - (m * sxy - sx * sy)
                                 / (m * sxx - sx * sx) * sx) / m)
                         / ((m * sxy - sx * sy) / (m * sxx - sx * sx))), 6)
                   AS scale_days,
               ROUND((m * sxy - sx * sy) * (m * sxy - sx * sy)
                     / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 6)
                   AS r2,
               ROUND(EXP(-EXP((sy - (m * sxy - sx * sy)
                                    / (m * sxx - sx * sx) * sx) / m
                              + (m * sxy - sx * sy) / (m * sxx - sx * sx)
                                * LN(180.0))), 6) AS s180_weibull,
               ROUND(EXP(-EXP((sy - (m * sxy - sx * sy)
                                    / (m * sxx - sx * sx) * sx) / m
                              + (m * sxy - sx * sy) / (m * sxx - sx * sx)
                                * LN(365.0))), 6) AS s365_weibull
        FROM mom
        WHERE m >= 2 AND (m * sxx - sx * sx) > 0
              AND (m * syy - sy * sy) > 0
    """,
    doc=(
        "PARAMETRIC WEIBULL SURVIVAL FIT on the Kaplan-Meier churn "
        "curve — the EXTRAPOLATION member the survival family lacked: "
        "KM/Nelson-Aalen/RMST stop dead at the observation horizon, "
        "but capacity planning needs S(t) BEYOND it, and the Weibull "
        "probability plot (Nelson 1972) delivers it in closed form: "
        "S(t) = exp(-(t/lambda)^k) linearizes to ln(-ln S) = k ln t - "
        "k ln lambda, so an OLS of y = ln(-ln S_KM(t)) on x = ln t "
        "over the event-time grid recovers shape k (slope; k < 1 = "
        "infant-mortality churn, k > 1 = wear-out) and scale lambda = "
        "exp(-intercept/slope) (the 63.2%-churned lifetime), with r2 "
        "as the is-it-actually-Weibull diagnostic and the 180/365-day "
        "extrapolated survivals as the payoff columns. The regression "
        "consumes the 6dp-ROUNDED KM survival (kaplan_meier_retention's "
        "emission contract — both engines see bit-identical inputs, "
        "the scaling_law_ols_fit determinism argument applied to the "
        "survival axis); censoring is handled where it belongs, inside "
        "KM. Degenerate fits (fewer than 2 event times, zero x- or "
        "y-variance) are excluded, mirrored. Plan: one per-customer "
        "aggregate -> day-span-bounded grid -> the documented-bounded "
        "KM window -> a 1-row moment reduction; no iteration, no "
        "driver-side solver."
    ),
    tags=("analytics", "retention", "statistics", "window"),
)
def weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_order", "first_order")
            .cast("bigint")
            .alias("lifetime_days"),
            F.when(
                F.datediff(F.col("h"), F.col("last_order")) > _CHURN_HORIZON_DAYS,
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )

    # day-span-bounded grid, eagerly checkpointed: the customer-scale
    # per_cust lineage (and its orders scans) runs exactly once, with
    # n derived from the grid's own cell sizes — the per_cust.agg +
    # multi-consumer form re-scanned orders four times (plan audit)
    grid = truncate_lineage(
        per_cust.groupBy("lifetime_days").agg(
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        )
    )
    n_tot = grid.agg(F.sum("n_ending").cast("bigint").alias("n"))
    w_prev = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    km = (
        grid.crossJoin(F.broadcast(n_tot))
        .select(
            "lifetime_days",
            "n_churned",
            (
                F.col("n")
                - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0))
            ).alias("n_at_risk"),
        )
        .select(
            "lifetime_days",
            "n_churned",
            F.round(
                F.exp(
                    F.sum(
                        F.log(1.0 - F.col("n_churned") / F.col("n_at_risk"))
                    ).over(w_run)
                ),
                6,
            ).alias("survival"),
        )
    )
    pts = km.filter(
        (F.col("lifetime_days") > 0)
        & (F.col("n_churned") > 0)
        & (F.col("survival") > 0.0)
        & (F.col("survival") < 1.0)
    ).select(
        F.log(F.col("lifetime_days").cast("double")).alias("x"),
        F.log(-F.log("survival")).alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    intercept = (sy - slope * sx) / m
    return mom.filter(
        (m >= 2) & ((m * sxx - sx * sx) > 0) & ((m * syy - sy * sy) > 0)
    ).select(
        m.alias("n_points"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 6).alias("scale_days"),
        F.round(
            (m * sxy - sx * sy)
            * (m * sxy - sx * sy)
            / ((m * sxx - sx * sx) * (m * syy - sy * sy)),
            6,
        ).alias("r2"),
        F.round(
            F.exp(-F.exp(intercept + slope * F.log(F.lit(180.0)))), 6
        ).alias("s180_weibull"),
        F.round(
            F.exp(-F.exp(intercept + slope * F.log(F.lit(365.0)))), 6
        ).alias("s365_weibull"),
    )


_ABSORB_ROUNDS = 8


def _absorption_oracle() -> str:
    """Unrolled value iteration over the event transition matrix (same
    generated-CTE trick as the k-core/BFS oracles; the matrix is bounded
    by the event-type domain so every round is a tiny join)."""
    ctes = [
        """
        seq AS (
            SELECT user_id, event_type AS s,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        trans AS (
            SELECT s, nxt, COUNT(*) AS n FROM seq
            WHERE nxt IS NOT NULL AND s <> 'purchase'
            GROUP BY s, nxt
        ),
        p AS (
            SELECT s, nxt, n * 1.0 / SUM(n) OVER (PARTITION BY s) AS pr
            FROM trans
        ),
        v0 AS (SELECT DISTINCT s AS state, 0.0 AS v FROM p)"""
    ]
    for i in range(_ABSORB_ROUNDS):
        ctes.append(
            f"""
        v{i + 1} AS MATERIALIZED (
            SELECT p.s AS state,
                   SUM(CASE WHEN p.nxt = 'purchase' THEN p.pr
                            ELSE p.pr * COALESCE(v.v, 0.0) END) AS v
            FROM p LEFT JOIN v{i} v ON p.nxt = v.state
            GROUP BY p.s
        )"""
        )
    return (
        ",".join(ctes)
        + f"""
        SELECT state, ROUND(v, 6) AS p_convert
        FROM v{_ABSORB_ROUNDS}
    """
    )


@register(
    "markov_absorption_conversion",
    oracle=f"WITH {_absorption_oracle()}",
    doc=(
        "ABSORBING-MARKOV-CHAIN CONVERSION PROBABILITY: from each event "
        "state, the probability the user's walk reaches 'purchase' "
        f"within {_ABSORB_ROUNDS} steps — value iteration v_(i+1)(s) = "
        "P(s,conv) + sum_s' P(s,s') v_i(s') over the row-normalized "
        "transition matrix, the model behind Markov attribution (the "
        "removal-effect credit is a per-channel re-solve of exactly this "
        "recursion). Complements event_transition_matrix (one-step "
        "probabilities) with the multi-step absorption view: a state "
        "with low direct P(s,conv) can still score high if it routes "
        "into converting states. Plan: the DISTRIBUTED part is the "
        "transition-count aggregate (one user-keyed lead() window + one "
        "hash agg — the same shape at any corpus size); the matrix "
        "itself is bounded by the event-type domain (<= |states|^2 rows "
        "at ANY corpus size), so it is collected once and the value "
        "iteration runs on the driver in deterministic sorted order — "
        "the oracle unrolls the SAME rounds as generated CTEs and every "
        "round's arithmetic is hash-verified at 6dp (per-round sums "
        "span <= |states| terms, far inside double's reassociation "
        "tolerance)."
    ),
    tags=("analytics", "attribution", "iterative", "statistics"),
)
def markov_absorption_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull() & (F.col("s") != "purchase"))
        .groupBy("s", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = trans.select(
        "s",
        "nxt",
        (
            F.col("n")
            / F.sum("n").over(Window.partitionBy("s"))
        ).alias("pr"),
    )
    # r11 (guide §1.2/§5): the 8 value-iteration rounds used to run as 8
    # sequential lineage-cut micro-jobs over the transition matrix — pure
    # job-scheduling overhead, since the matrix is bounded by the
    # event-type enum (|states|^2 <= a few dozen rows at ANY corpus size).
    # Collect it ONCE (bounded by construction) and value-iterate on the
    # driver — the distributed work (corpus-scale lead() window +
    # transition-count aggregate) is unchanged; same driver-side-solve
    # precedent as ann_pq_topk's codebooks and bradley_terry_strengths.
    # Deterministic (s, nxt)-sorted sum order; per-state sums span
    # <= |states| terms, far inside double's reassociation tolerance at
    # the 6dp emission grain (the docstring's existing argument).
    rows = sorted((r.s, r.nxt, r.pr) for r in p.collect())
    states = sorted({s for s, _, _ in rows})
    v = {s: 0.0 for s in states}
    for _ in range(_ABSORB_ROUNDS):
        v = {
            s: sum(
                pr if nxt == "purchase" else pr * v.get(nxt, 0.0)
                for ss, nxt, pr in rows
                if ss == s
            )
            for s in states
        }
    out = spark.createDataFrame(
        [(s, v[s]) for s in states], "state string, v double"
    )
    return out.select("state", F.round("v", 6).alias("p_convert"))


_ATTRIB_CHANNELS = ("click", "error", "signup", "view")


def _removal_oracle() -> str:
    """Baseline + one value-iteration chain per removed channel (removal =
    the channel becomes a NULL absorbing state: transitions into it stop
    converting; probabilities are NOT renormalized — the standard Markov
    removal-effect semantics), plus the first-event start distribution."""
    variants = [("base", None)] + [(c, c) for c in _ATTRIB_CHANNELS]
    ctes = [
        """
        seq AS (
            SELECT user_id, event_type AS s,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        trans AS (
            SELECT s, nxt, COUNT(*) AS n FROM seq
            WHERE nxt IS NOT NULL AND s <> 'purchase'
            GROUP BY s, nxt
        ),
        p AS (
            SELECT s, nxt, n * 1.0 / SUM(n) OVER (PARTITION BY s) AS pr
            FROM trans
        ),
        starts AS (
            SELECT s AS state, COUNT(*) * 1.0 /
                   (SELECT COUNT(*) FROM seq WHERE rn = 1) AS share
            FROM seq WHERE rn = 1 GROUP BY s
        )"""
    ]
    finals = []
    for tag, removed in variants:
        guard = f"AND p.s <> '{removed}' AND p.nxt <> '{removed}'" if removed else ""
        ctes.append(
            f"""
        v_{tag}_0 AS (SELECT DISTINCT s AS state, 0.0 AS v FROM p)"""
        )
        for i in range(_ABSORB_ROUNDS):
            ctes.append(
                f"""
        v_{tag}_{i + 1} AS MATERIALIZED (
            SELECT p.s AS state,
                   SUM(CASE WHEN p.nxt = 'purchase' THEN p.pr
                            ELSE p.pr * COALESCE(v.v, 0.0) END) AS v
            FROM p LEFT JOIN v_{tag}_{i} v ON p.nxt = v.state
            WHERE 1=1 {guard}
            GROUP BY p.s
        )"""
            )
        finals.append(
            f"""
        conv_{tag} AS (
            SELECT SUM(st.share * CASE WHEN st.state = 'purchase' THEN 1.0
                       {f"WHEN st.state = '{removed}' THEN 0.0" if removed else ""}
                       ELSE COALESCE(v.v, 0.0) END) AS conv
            FROM starts st
            LEFT JOIN v_{tag}_{_ABSORB_ROUNDS} v ON st.state = v.state
        )"""
        )
    effects = ",\n".join(
        f"""
        eff_{c} AS (
            SELECT '{c}' AS channel,
                   1.0 - c.conv / b.conv AS effect
            FROM conv_{c} c CROSS JOIN conv_base b
        )"""
        for c in _ATTRIB_CHANNELS
    )
    union = "\n            UNION ALL\n            ".join(
        f"SELECT * FROM eff_{c}" for c in _ATTRIB_CHANNELS
    )
    return (
        ",".join(ctes)
        + ","
        + ",".join(finals)
        + ","
        + effects
        + f""",
        all_eff AS (
            {union}
        ),
        tot AS (SELECT SUM(effect) AS t FROM all_eff)
        SELECT channel,
               ROUND(effect, 6) AS removal_effect,
               ROUND(effect / t.t, 6) AS attribution_share
        FROM all_eff CROSS JOIN tot t
    """
    )


@register(
    "markov_removal_attribution",
    oracle=f"WITH {_removal_oracle()}",
    doc=(
        "MARKOV REMOVAL-EFFECT ATTRIBUTION: each channel's credit is how "
        "much total conversion probability disappears when that channel "
        "is knocked out of the journey graph (removal = the channel "
        "becomes a null absorbing state; probabilities NOT renormalized "
        "— the standard semantics), normalized into attribution shares. "
        "This is the data-driven alternative to last-touch: a channel "
        "that rarely closes but routes walks into closers still earns "
        "credit. Computation = the markov_absorption_conversion "
        "recursion solved once per variant (baseline + |channels|), "
        "conversion totals weighted by the first-event start "
        "distribution. The DISTRIBUTED work (transition counts, start "
        "shares) happens once; the matrix and start shares are bounded "
        "by the event-type domain, so both are collected once and every "
        "variant's value iteration runs on the driver in deterministic "
        "sorted order — the oracle unrolls every variant's rounds as "
        "generated MATERIALIZED CTEs, so all five value iterations are "
        "hash-verified end to end."
    ),
    tags=("analytics", "attribution", "iterative", "statistics"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull() & (F.col("s") != "purchase"))
        .groupBy("s", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = trans.select(
        "s",
        "nxt",
        (F.col("n") / F.sum("n").over(Window.partitionBy("s"))).alias("pr"),
    )
    firsts = seq.filter(F.col("rn") == 1)
    n_users = firsts.count()  # 1-row driver scalar, bounded
    starts = firsts.groupBy(F.col("s").alias("state")).agg(
        (F.count(F.lit(1)) / F.lit(float(n_users))).alias("share")
    )

    # r11 (guide §1.2/§5): the 5 variant solves (baseline + one per
    # channel) each ran 8 lineage-cut micro-jobs plus a collect — ~45
    # sequential tiny Spark jobs over a matrix bounded by the event-type
    # enum. Collect the matrix and start shares ONCE (both bounded by
    # construction: <= |states|^2 and <= |states| rows at ANY corpus
    # size) and run every value iteration on the driver — the
    # distributed work (lead() window, transition counts, start shares)
    # is unchanged. Deterministic sorted sum order; per-state sums span
    # <= |states| terms (see markov_absorption_conversion).
    rows = sorted((r.s, r.nxt, r.pr) for r in p.collect())
    start_rows = sorted((r.state, r.share) for r in starts.collect())

    def solve(removed: str | None) -> float:
        m = [
            (s, nxt, pr)
            for s, nxt, pr in rows
            if removed is None or (s != removed and nxt != removed)
        ]
        states = sorted({s for s, _, _ in m})
        v = {s: 0.0 for s in states}
        for _ in range(_ABSORB_ROUNDS):
            v = {
                s: sum(
                    pr if nxt == "purchase" else pr * v.get(nxt, 0.0)
                    for ss, nxt, pr in m
                    if ss == s
                )
                for s in states
            }
        conv = 0.0
        for state, share in start_rows:
            if state == "purchase":
                conv += share
            elif removed is not None and state == removed:
                pass
            else:
                conv += share * v.get(state, 0.0)
        return conv

    base = solve(None)
    effects = [(c, 1.0 - solve(c) / base) for c in _ATTRIB_CHANNELS]
    tot = sum(e for _, e in effects)
    return spark.createDataFrame(
        [(c, round(e, 6), round(e / tot, 6)) for c, e in effects],
        "channel string, removal_effect double, attribution_share double",
    )


# --- HITS on the bipartite purchase graph (round 5) -------------------------

_HITS_ITERS = 4


def _hits_oracle() -> str:
    """Unrolled HITS (Kleinberg) on the directed customer->brand purchase
    graph, L1-normalized per half-step — the same generated-CTE trick as
    the pagerank oracle, two vectors per round."""
    steps = []
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        steps.append(
            f"""a{i}_raw AS (
            SELECT e.brand, SUM(h.score) AS s
            FROM edges e JOIN {prev_h} h USING (custkey)
            GROUP BY e.brand
        ),
        a{i} AS (
            SELECT brand, s / SUM(s) OVER () AS score FROM a{i}_raw
        ),
        h{i}_raw AS (
            SELECT e.custkey, SUM(a.score) AS s
            FROM edges e JOIN a{i} a USING (brand)
            GROUP BY e.custkey
        ),
        h{i} AS (
            SELECT custkey, s / SUM(s) OVER () AS score FROM h{i}_raw
        )"""
        )
        prev_h = f"h{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
            FROM orders o
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN part p ON p.p_partkey = l.l_partkey
        ),
        h0 AS (
            SELECT custkey, 1.0 / (SELECT COUNT(DISTINCT custkey) FROM edges)
                       AS score
            FROM (SELECT DISTINCT custkey FROM edges)
        ),
        {chain}
        SELECT brand, ROUND(score, 6) AS authority
        FROM a{_HITS_ITERS}
    """


@register(
    "hits_brand_authority",
    oracle=_hits_oracle(),
    doc=(
        f"HITS (Kleinberg) HUB/AUTHORITY RANKING, {_HITS_ITERS} rounds, on "
        "the DIRECTED bipartite customer->brand purchase graph: authority "
        "flows to brands bought by high-hub customers, hub score to "
        "customers who buy authoritative brands — the mutual-"
        "reinforcement ranking that complements pagerank_brand_graph "
        "(whose undirected co-purchase walk cannot express the two-sided "
        "asymmetry; on an undirected graph HITS degenerates to degree). "
        "Each half-round is one join-aggregate of the edge list with the "
        "opposite-side score vector, L1-normalized (the normalization "
        "that makes fixed-round output deterministic and 6dp-roundable). "
        "The two sides get DIFFERENT join strategies by their scaling "
        "class: the brand authority vector is domain-bounded (like the "
        "vocab/centroid broadcasts elsewhere) and broadcast, while the "
        "hub vector is O(|customers|) — it scales with the fact tables, "
        "so its half-round is a shuffled equi-join keyed on custkey, "
        "never a broadcast (a per-customer broadcast would be a "
        "multi-GB driver collect at 100 TB) — the Pregel-as-join "
        "formulation with the same persisted-edges/lineage discipline as "
        "pagerank. The oracle unrolls all rounds as generated CTEs, so "
        "every half-step's arithmetic is hash-verified."
    ),
    tags=("analytics", "graph", "iterative"),
)
def hits_brand_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    o, l, p = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    return persisted_result(edges, _hits_tree)


def _hits_tree(edges: DataFrame) -> DataFrame:
    # per-half-round lineage truncation: each vector is O(|side|) rows,
    # but an un-cut chain nests one broadcast stage per prior half-round
    # and re-executes the normalization aggregates (measured 110 s -> ~3 s
    # at sf0.01) — the markov/k-core/BFS pattern
    n_cust = edges.agg(F.countDistinct("custkey").cast("double").alias("n"))
    hubs = (
        edges.select("custkey")
        .distinct()
        .crossJoin(F.broadcast(n_cust))
        .select("custkey", (1.0 / F.col("n")).alias("score"))
    )
    def l1_normalize(raw: DataFrame, key: str) -> DataFrame:
        # truncate the RAW vector (one eager cut per half-round), then
        # normalize as a thin lazy projection over the checkpointed rows:
        # the total is a 1-row scalar pull off the already-cut vector
        # (bounded, the CC-checksum class) folded in as a literal — no
        # crossJoin stage, no second cut, and NOT an unpartitioned window
        # (the hub vector is O(|customers|); a single-partition window
        # over it would serialize at scale)
        raw = truncate_lineage(raw)
        t = raw.agg(F.sum("s")).collect()[0][0]
        return raw.select(key, (F.col("s") / F.lit(float(t))).alias("score"))

    auth = None
    for _ in range(_HITS_ITERS):
        # hub vector is O(|customers|) — shuffled join on custkey, NOT a
        # broadcast (customers scale with the fact tables; see docstring)
        a_raw = (
            edges.join(hubs, "custkey")
            .groupBy("brand")
            .agg(F.sum("score").alias("s"))
        )
        auth = l1_normalize(a_raw, "brand")
        h_raw = (
            edges.join(F.broadcast(auth), "brand")
            .groupBy("custkey")
            .agg(F.sum("score").alias("s"))
        )
        hubs = l1_normalize(h_raw, "custkey")
    return auth.select("brand", F.round("score", 6).alias("authority"))


@register(
    "lang_source_chi_square",
    oracle="""
        WITH obs AS (
            SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS o
            FROM documents GROUP BY lang, source
        ),
        -- full r x c grid: zero-observed cells still contribute
        -- (0 - e)^2 / e = e to the statistic; summing only observed
        -- cells understates chi-square on sparse tables
        grid AS (
            SELECT l.lang, s.source, COALESCE(o.o, 0.0) AS o
            FROM (SELECT DISTINCT lang FROM documents) l
            CROSS JOIN (SELECT DISTINCT source FROM documents) s
            LEFT JOIN obs o USING (lang, source)
        ),
        margins AS (
            SELECT g.lang, g.source, g.o,
                   SUM(g.o) OVER (PARTITION BY g.lang) AS rl,
                   SUM(g.o) OVER (PARTITION BY g.source) AS cs,
                   SUM(g.o) OVER () AS n
            FROM grid g
        ),
        cells AS (
            SELECT lang, source, o, rl * cs / n AS e, n FROM margins
        ),
        dims AS (
            SELECT COUNT(DISTINCT lang) AS r, COUNT(DISTINCT source) AS c
            FROM documents
        )
        SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi_square,
               CAST((d.r - 1) * (d.c - 1) AS BIGINT) AS dof,
               ROUND(sqrt(SUM((o - e) * (o - e) / e)
                          / (ANY_VALUE(n) * LEAST(d.r - 1, d.c - 1))), 6)
                   AS cramers_v
        FROM cells CROSS JOIN dims d
        GROUP BY d.r, d.c
    """,
    doc=(
        "CHI-SQUARE INDEPENDENCE AUDIT of the lang x source contingency "
        "table (+ Cramer's V effect size): the statistical test behind "
        "'is my language mix confounded with my source mix' — a "
        "high-association corpus cannot ablate source effects from "
        "language effects in training experiments, and a drifting V "
        "across snapshots flags collection-pipeline skew. Expected "
        "counts are the margin product under independence; all margins "
        "come from windows over the |langs| x |sources|-bounded FULL "
        "grid — zero-observed cells still contribute e to the statistic "
        "(summing observed cells only understates chi-square on sparse "
        "tables) — and one hash aggregate over the corpus is the only "
        "corpus-sized stage. Output is one row; identical arithmetic "
        "both engines, 6dp."
    ),
    tags=("analytics", "llm", "statistics"),
)
def lang_source_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    # full r x c grid (see oracle comment): zero-observed cells contribute e
    grid = (
        docs.select("lang").distinct()
        .crossJoin(docs.select("source").distinct())
        .join(obs, ["lang", "source"], "left")
        .select("lang", "source", F.coalesce("o", F.lit(0.0)).alias("o"))
    )
    cells = grid.select(
        "lang",
        "source",
        "o",
        (
            F.sum("o").over(Window.partitionBy("lang"))
            * F.sum("o").over(Window.partitionBy("source"))
            / F.sum("o").over(Window.partitionBy())
        ).alias("e"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    dims = docs.agg(
        F.countDistinct("lang").alias("r"), F.countDistinct("source").alias("c")
    )
    chi = F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
    return (
        cells.crossJoin(F.broadcast(dims))
        .groupBy("r", "c")
        .agg(
            F.round(chi, 6).alias("chi_square"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
            F.round(
                F.sqrt(
                    chi / (F.first("n") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .select("chi_square", "dof", "cramers_v")
    )


@register(
    "nelson_aalen_hazard",
    oracle=f"""
        WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
        lives AS (
            SELECT o_custkey,
                   CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                        AS BIGINT) AS lifetime_days,
                   CASE WHEN date_diff('day', MAX(o_orderdate), ho.h)
                             > {_CHURN_HORIZON_DAYS}
                        THEN 1 ELSE 0 END AS churned
            FROM orders CROSS JOIN horizon ho
            GROUP BY o_custkey, ho.h
        ),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lives),
        grid AS (
            SELECT lifetime_days,
                   CAST(SUM(churned) AS BIGINT) AS n_churned,
                   CAST(COUNT(*) AS BIGINT) AS n_ending
            FROM lives GROUP BY lifetime_days
        ),
        risk AS (
            SELECT lifetime_days, n_churned,
                   CAST(t.n - COALESCE(SUM(n_ending) OVER (
                       ORDER BY lifetime_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_at_risk
            FROM grid CROSS JOIN n_tot t
        )
        SELECT lifetime_days, n_at_risk, n_churned,
               ROUND(SUM(n_churned * 1.0 / n_at_risk) OVER (
                   ORDER BY lifetime_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS cum_hazard,
               ROUND(SQRT(SUM(n_churned * 1.0 * (n_at_risk - n_churned)
                              / (n_at_risk * 1.0 * n_at_risk * n_at_risk))
                          OVER (
                   ORDER BY lifetime_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                   AS hazard_se
        FROM risk
        WHERE n_churned > 0
    """,
    doc=(
        "NELSON-AALEN CUMULATIVE HAZARD of customer lifetimes — the "
        "companion estimator to kaplan_meier_retention over the exact "
        "same (lifetime, churn-event, censoring) construction: H(t) = "
        "sum_{u<=t} d_u/n_u with the counting-process variance "
        "sum d(n-d)/n^3 as a standard error. Where the KM curve answers "
        "'what fraction survives to t', the hazard INCREMENTS answer "
        "'when is churn risk concentrated' (its slope is the hazard "
        "rate, robust to small risk sets where -ln(KM) gets noisy), and "
        "H feeds directly into Cox-model diagnostics. Plan: identical "
        "shape to KM — one per-customer hash aggregate, one grid "
        "aggregate, running sums over the DISTINCT-lifetime grid "
        "(bounded by the dataset's day span, the documented-bounded "
        "window class). Emitted at event rows only (n_churned > 0), "
        "which is where the step function actually steps."
    ),
    tags=("analytics", "retention", "statistics", "window"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_order", "first_order")
            .cast("bigint")
            .alias("lifetime_days"),
            F.when(
                F.datediff(F.col("h"), F.col("last_order"))
                > _CHURN_HORIZON_DAYS,
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    n_tot = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = per_cust.groupBy("lifetime_days").agg(
        F.sum("churned").cast("bigint").alias("n_churned"),
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
    )
    w_prev = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.crossJoin(F.broadcast(n_tot)).select(
        "lifetime_days",
        "n_churned",
        (
            F.col("n")
            - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0))
        ).cast("bigint").alias("n_at_risk"),
    )
    d, n = F.col("n_churned"), F.col("n_at_risk")
    return risk.select(
        "lifetime_days",
        "n_at_risk",
        "n_churned",
        F.round(F.sum(d * 1.0 / n).over(w_run), 6).alias("cum_hazard"),
        F.round(
            F.sqrt(F.sum(d * 1.0 * (n - d) / (n * 1.0 * n * n)).over(w_run)),
            6,
        ).alias("hazard_se"),
    ).filter(F.col("n_churned") > 0)


_AA_MIN_SUPPORT = 2  # co-purchase orders required before a pair is an edge
# hub cap: each node keeps its top-_AA_DEG_CAP neighbors by support — the
# lever that bounds the wedge join's sum-of-squared-degrees when the graph
# densifies (the 10x replica probe measured 12x wall without it; fixture
# max degree is 51, so the cap never binds — and never changes results —
# at 1x). Deterministic: (support DESC, neighbor ASC) rank, mirrored in
# the oracle, so a binding cap still hash-matches.
_AA_DEG_CAP = 64


@register(
    "adamic_adar_link_prediction",
    oracle=f"""
        WITH ob AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        und AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_AA_MIN_SUPPORT}
        ),
        edges AS (
            SELECT pa, pb FROM (
                SELECT pa, pb,
                       ROW_NUMBER() OVER (
                           PARTITION BY pa ORDER BY support DESC, pb ASC
                       ) AS rn
                FROM (SELECT pa, pb, support FROM und
                      UNION ALL SELECT pb, pa, support FROM und)
            ) WHERE rn <= {_AA_DEG_CAP}
        ),
        deg AS (SELECT pa AS node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM edges GROUP BY pa),
        wedges AS (
            SELECT e1.pa AS part_a, e2.pb AS part_b, e1.pb AS z
            FROM edges e1 JOIN edges e2
              ON e1.pb = e2.pa AND e1.pa < e2.pb
        ),
        aa AS (
            SELECT w.part_a, w.part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   ROUND(SUM(1.0 / ln(d.deg)), 6) AS aa_score
            FROM wedges w
            JOIN deg d ON d.node = w.z
            LEFT JOIN und u ON u.pa = w.part_a AND u.pb = w.part_b
            WHERE u.pa IS NULL
            GROUP BY w.part_a, w.part_b
        )
        SELECT part_a, part_b, n_common, aa_score
        FROM aa
        ORDER BY aa_score DESC, part_a ASC, part_b ASC
        LIMIT 20
    """,
    doc=(
        "ADAMIC-ADAR LINK PREDICTION on the part co-purchase graph: "
        f"nodes are parts, an edge requires >= {_AA_MIN_SUPPORT} shared "
        "orders (the min-support prune that keeps noise pairs out of the "
        "graph AND bounds the wedge join), and for every NON-adjacent "
        "pair with common neighbors AA = sum over common neighbors z of "
        "1/ln(deg(z)) — common neighbors weighted inversely by how "
        "promiscuous they are, the classic 'you will buy these together "
        "next' / recommend-missing-edge score (Adamic & Adar 2003). "
        "Top-20, fully tie-broken. Plan: basket-grain DISTINCT collapse "
        "before any pairing (pairs form per-order over basket size, "
        "never corpus-wide), support filter BEFORE the wedge join, then "
        "one equi-join of the edge list with itself keyed on the shared "
        "endpoint (shuffle ~ sum of squared degrees of the THRESHOLDED "
        "graph), degree lookup joined on z, existing edges removed with "
        "a left-anti condition, TakeOrderedAndProject for the top-k. At "
        "100 TB the extra lever is a per-node top-degree cap before the "
        "wedge join (drop hubs — they contribute ~0 AA weight anyway); "
        "a common neighbor has deg >= 2 by construction so ln(deg) is "
        "never zero. aa_score rounded to 6dp before ranking."
    ),
    tags=("analytics", "graph", "llm", "join"),
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    # the thresholded edge list feeds THREE subtrees (capped directed
    # edges -> wedges twice + degree, and the existing-edge anti-join):
    # persist it so the basket pair join executes once
    return persisted_result(_aa_support_edges(spark, sf_dir), _aa_tree)


def _aa_support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ob = li.select("l_orderkey", "l_partkey").distinct()
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = ob.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= _AA_MIN_SUPPORT)
    )


def _aa_tree(und: DataFrame) -> DataFrame:
    # hub cap (see _AA_DEG_CAP): per-node top neighbors by support — a
    # node-keyed window over the edge list, bounding the wedge fan-out
    w_cap = Window.partitionBy("pa").orderBy(F.desc("support"), F.asc("pb"))
    edges = (
        und.select("pa", "pb", "support")
        .unionAll(
            und.select(
                F.col("pb").alias("pa"),
                F.col("pa").alias("pb"),
                "support",
            )
        )
        .withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= _AA_DEG_CAP)
        .select("pa", "pb")
    )
    deg = edges.groupBy(F.col("pa").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    e1 = edges.select(F.col("pa").alias("part_a"), F.col("pb").alias("z"))
    e2 = edges.select(F.col("pa").alias("z2"), F.col("pb").alias("part_b"))
    wedges = e1.join(
        e2, (F.col("z") == F.col("z2")) & (F.col("part_a") < F.col("part_b"))
    ).select("part_a", "part_b", "z")
    aa = (
        wedges.join(deg, wedges.z == deg.node)
        .join(
            und.select(
                F.col("pa").alias("ea"), F.col("pb").alias("eb")
            ),
            (F.col("part_a") == F.col("ea")) & (F.col("part_b") == F.col("eb")),
            "left_anti",
        )
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(F.sum(1.0 / F.log("deg")), 6).alias("aa_score"),
        )
    )
    return aa.orderBy(
        F.desc("aa_score"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


# --- exact Shapley-value channel attribution --------------------------------

_SHAP_CHANNELS = ("click", "view", "signup", "error")  # bit i = channel i


def _shapley_combo_rows() -> list[tuple[str, int, int, float]]:
    """(channel, S_without, S_with, weight) for every channel and every
    coalition S not containing it: weight = |S|! (n-1-|S|)! / n! — the
    exact Shapley kernel, enumerable because n = |channels| is small."""
    import math as _m

    n = len(_SHAP_CHANNELS)
    rows = []
    for i, ch in enumerate(_SHAP_CHANNELS):
        bit = 1 << i
        for s in range(1 << n):
            if s & bit:
                continue
            size = bin(s).count("1")
            w = (
                _m.factorial(size)
                * _m.factorial(n - 1 - size)
                / _m.factorial(n)
            )
            rows.append((ch, s, s | bit, w))
    return rows


def _shapley_oracle() -> str:
    n = len(_SHAP_CHANNELS)
    bits = " + ".join(
        f"MAX(CASE WHEN e.event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(_SHAP_CHANNELS)
    )
    combos = ", ".join(
        f"('{ch}', {s0}, {s1}, {w!r})"
        for ch, s0, s1, w in _shapley_combo_rows()
    )
    subsets = ", ".join(f"({s})" for s in range(1 << n))
    return f"""
        WITH firstp AS (
            SELECT user_id, MIN(ts) AS fts FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ),
        masks AS (
            SELECT f.user_id, COALESCE({bits}, 0) AS mask
            FROM firstp f
            LEFT JOIN events e
              ON e.user_id = f.user_id AND e.ts < f.fts
             AND e.event_type <> 'purchase'
            GROUP BY f.user_id
        ),
        mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM masks GROUP BY mask),
        subsets(s) AS (VALUES {subsets}),
        v AS (
            SELECT s, COALESCE(SUM(CASE WHEN (mask | s) = s THEN cnt END), 0)
                       AS worth
            FROM subsets LEFT JOIN mc ON TRUE
            GROUP BY s
        ),
        combos(channel, s0, s1, w) AS (VALUES {combos})
        SELECT c.channel,
               ROUND(SUM(c.w * (v1.worth - v0.worth)), 6) AS shapley_conversions
        FROM combos c
        JOIN v v0 ON v0.s = c.s0
        JOIN v v1 ON v1.s = c.s1
        GROUP BY c.channel
    """


@register(
    "shapley_channel_attribution",
    oracle=_shapley_oracle(),
    doc=(
        "EXACT SHAPLEY-VALUE ATTRIBUTION over the touchpoint channels "
        f"{_SHAP_CHANNELS}: coalition worth v(S) = converting users "
        "whose pre-first-purchase touchpoint set is contained in S, and "
        "each channel's Shapley value sums the exact kernel "
        "|S|!(n-1-|S|)!/n! over all 2^(n-1) marginal contributions — "
        "the game-theoretically fair credit split that last-touch "
        "(recency-biased) and Markov removal (path-model-dependent) "
        "both approximate; with n=4 channels the 16-coalition game is "
        "EXACT, no sampling. The three attribution operators share the "
        "same events input, so their disagreement is itself a model "
        "audit. Scale shape: one per-user aggregate folds the corpus "
        "to touchpoint BITMASKS (the entire game state is the <=2^n-row "
        "mask histogram — at 100 TB the game arithmetic costs the same "
        "16 rows); worth evaluates the containment test (mask|S)=S on "
        "the broadcast subsets x mask-histogram grid; the kernel is a "
        "compile-time 32-row constant table. Sum of Shapley values = "
        "v(full) - v(empty) — efficiency, asserted in tests. Weights "
        "are exact dyadic rationals (n=4: x/24 with power-of-2-adjacent "
        "denominators... 1/4, 1/12, 1/24), repr'd identically into both "
        "engines; worths are exact bigints, so the 6-dp round is "
        "engine-stable."
    ),
    tags=("analytics", "attribution", "statistics", "llm"),
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firstp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fts"))
    )
    touches = ev.select(
        F.col("user_id").alias("t_user"), "event_type", "ts"
    ).filter(F.col("event_type") != "purchase")
    bits = None
    for i, ch in enumerate(_SHAP_CHANNELS):
        term = F.max(
            F.when(F.col("event_type") == ch, 1 << i).otherwise(0)
        )
        bits = term if bits is None else bits + term
    masks = (
        firstp.join(
            touches,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("ts") < F.col("fts")),
            "left",
        )
        .groupBy("user_id")
        .agg(F.coalesce(bits, F.lit(0)).alias("mask"))
    )
    mc = masks.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    n = len(_SHAP_CHANNELS)
    subsets = spark.createDataFrame([(s,) for s in range(1 << n)], "s int")
    v = (
        subsets.crossJoin(F.broadcast(mc))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseOR(F.col("s")) == F.col("s"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            ).alias("worth")
        )
    )
    combos = spark.createDataFrame(
        _shapley_combo_rows(), "channel string, s0 int, s1 int, w double"
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("worth").alias("w0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("worth").alias("w1"))
    return (
        combos.join(F.broadcast(v0), "s0")
        .join(F.broadcast(v1), "s1")
        .groupBy("channel")
        .agg(
            F.round(F.sum(F.col("w") * (F.col("w1") - F.col("w0"))), 6).alias(
                "shapley_conversions"
            )
        )
    )


# ---------------------------------------------------------------------------
# Competing risks (round-5r): the Aalen-Johansen cumulative incidence pair
# that completes the KM / Nelson-Aalen survival family.
# ---------------------------------------------------------------------------


@register(
    "competing_risks_incidence",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(ts) AS entry_ts,
                   MAX(ts) AS last_ts,
                   MIN(CASE WHEN event_type = 'purchase' AND value > 90 THEN ts END)
                       AS first_purchase,
                   MIN(CASE WHEN event_type = 'error' AND value > 90 THEN ts END)
                       AS first_error
            FROM events GROUP BY user_id
        ),
        lives AS (
            SELECT user_id,
                   CASE
                     WHEN first_purchase IS NOT NULL
                          AND (first_error IS NULL
                               OR first_purchase <= first_error)
                       THEN CAST(date_diff('day', entry_ts, first_purchase)
                                 AS BIGINT)
                     WHEN first_error IS NOT NULL
                       THEN CAST(date_diff('day', entry_ts, first_error)
                                 AS BIGINT)
                     ELSE CAST(date_diff('day', entry_ts, last_ts) AS BIGINT)
                   END AS lifetime_days,
                   CASE
                     WHEN first_purchase IS NOT NULL
                          AND (first_error IS NULL
                               OR first_purchase <= first_error) THEN 1
                     WHEN first_error IS NOT NULL THEN 2
                     ELSE 0
                   END AS ev
            FROM per_user
        ),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lives),
        grid AS (
            SELECT lifetime_days,
                   CAST(SUM(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d_purchase,
                   CAST(SUM(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS d_error,
                   CAST(COUNT(*) AS BIGINT) AS n_ending
            FROM lives GROUP BY lifetime_days
        ),
        risk AS (
            SELECT lifetime_days, d_purchase, d_error,
                   CAST(t.n - COALESCE(SUM(n_ending) OVER wp, 0) AS BIGINT)
                       AS n_at_risk
            FROM grid CROSS JOIN n_tot t
            WINDOW wp AS (ORDER BY lifetime_days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        fac AS (
            SELECT lifetime_days, d_purchase, d_error, n_at_risk,
                   1.0 - (d_purchase + d_error) * 1.0 / n_at_risk AS factor
            FROM risk
        ),
        surv AS (
            SELECT lifetime_days, d_purchase, d_error, n_at_risk, factor,
                   CASE WHEN COALESCE(MIN(factor) OVER wp, 1.0) <= 0.0
                        THEN 0.0
                        ELSE EXP(COALESCE(SUM(
                            CASE WHEN factor > 0 THEN LN(factor) ELSE 0 END)
                            OVER wp, 0.0))
                   END AS s_minus
            FROM fac
            WINDOW wp AS (ORDER BY lifetime_days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT lifetime_days, n_at_risk, d_purchase, d_error,
               ROUND(CASE WHEN MIN(factor) OVER wr <= 0.0 THEN 0.0
                          ELSE EXP(SUM(
                              CASE WHEN factor > 0 THEN LN(factor) ELSE 0 END)
                              OVER wr)
                     END, 6) AS survival,
               ROUND(SUM(s_minus * d_purchase / n_at_risk) OVER wr, 6)
                   AS cif_purchase,
               ROUND(SUM(s_minus * d_error / n_at_risk) OVER wr, 6)
                   AS cif_error
        FROM surv
        WINDOW wr AS (ORDER BY lifetime_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc=(
        "COMPETING-RISKS CUMULATIVE INCIDENCE (Aalen-Johansen): each "
        "user enters at their first event and exits at their first "
        "HIGH-VALUE (>90) PURCHASE (risk 1) or first high-value ERROR "
        "(risk 2), whichever comes "
        "first (same-instant ties -> purchase, deterministic); neither "
        "-> censored at the last observed event. CIF_k(t) = sum_{u<=t} "
        "S(u-) * d_k,u / n_u with S the all-cause KM — the estimator "
        "that answers 'what fraction converts BEFORE hitting an error' "
        "correctly, where 1 - KM-per-risk overestimates both (the "
        "classic competing-risks mistake). Completes the survival "
        "family: KM (single risk), Nelson-Aalen (hazard), now AJ. Same "
        "bounded mechanics as kaplan_meier_retention: one per-user "
        "aggregate, one DAY-GRID aggregate (bounded by the dataset's "
        "day span), ordered windows over that grid only; the KM product "
        "runs as exp(running sum of ln) with an explicit cumulative-min "
        "zero-factor guard expressed IDENTICALLY in both engines "
        "(Spark's ln(0) is NULL, DuckDB's is -inf — the guard keeps "
        "both on the arithmetic path). Identity CIF1+CIF2 = 1 - S(t) "
        "is pytest-gated."
    ),
    tags=("analytics", "retention", "statistics", "window"),
)
def competing_risks_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("entry_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90),
                F.col("ts"),
            )
        ).alias("first_purchase"),
        F.min(
            F.when(
                (F.col("event_type") == "error") & (F.col("value") > 90),
                F.col("ts"),
            )
        ).alias("first_error"),
    )
    p_first = F.col("first_purchase").isNotNull() & (
        F.col("first_error").isNull()
        | (F.col("first_purchase") <= F.col("first_error"))
    )
    lives = per_user.select(
        F.when(
            p_first, F.datediff("first_purchase", "entry_ts").cast("bigint")
        )
        .when(
            F.col("first_error").isNotNull(),
            F.datediff("first_error", "entry_ts").cast("bigint"),
        )
        .otherwise(F.datediff("last_ts", "entry_ts").cast("bigint"))
        .alias("lifetime_days"),
        F.when(p_first, 1)
        .when(F.col("first_error").isNotNull(), 2)
        .otherwise(0)
        .alias("ev"),
    )
    n_tot = lives.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = lives.groupBy("lifetime_days").agg(
        F.sum(F.when(F.col("ev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d_purchase"),
        F.sum(F.when(F.col("ev") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d_error"),
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
    )
    wp = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wr = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.crossJoin(F.broadcast(n_tot)).select(
        "lifetime_days",
        "d_purchase",
        "d_error",
        (
            F.col("n") - F.coalesce(F.sum("n_ending").over(wp), F.lit(0))
        ).cast("bigint").alias("n_at_risk"),
    )
    factor = (
        F.lit(1.0)
        - (F.col("d_purchase") + F.col("d_error")) * F.lit(1.0) / F.col("n_at_risk")
    )
    fac = risk.withColumn("factor", factor)
    safe_ln = F.when(F.col("factor") > 0, F.log("factor")).otherwise(F.lit(0.0))
    s_minus = F.when(
        F.coalesce(F.min("factor").over(wp), F.lit(1.0)) <= 0.0, F.lit(0.0)
    ).otherwise(F.exp(F.coalesce(F.sum(safe_ln).over(wp), F.lit(0.0))))
    surv = fac.withColumn("s_minus", s_minus)
    s_t = F.when(F.min("factor").over(wr) <= 0.0, F.lit(0.0)).otherwise(
        F.exp(F.sum(safe_ln).over(wr))
    )
    return surv.select(
        "lifetime_days",
        "n_at_risk",
        "d_purchase",
        "d_error",
        F.round(s_t, 6).alias("survival"),
        F.round(
            F.sum(
                F.col("s_minus") * F.col("d_purchase") / F.col("n_at_risk")
            ).over(wr),
            6,
        ).alias("cif_purchase"),
        F.round(
            F.sum(F.col("s_minus") * F.col("d_error") / F.col("n_at_risk")).over(
                wr
            ),
            6,
        ).alias("cif_error"),
    )


# ---------------------------------------------------------------------------
# Log-rank test + restricted mean survival time (round 9): the two-group
# INFERENCE and EFFECT-SIZE layers over the Kaplan-Meier machinery above
# (kaplan_meier_retention estimates one curve; these compare two).
# ---------------------------------------------------------------------------

# same cross-engine Knuth multiplicative arm hash as operators/evals.py
_LR_KNUTH = 2654435761
_LR_MOD = 2147483647
_LR_ARM_SQL = f"(((o_custkey % {_LR_MOD}) * {_LR_KNUTH}) >> 16) % 2"
# A&S 26.2.17 normal tail: shared literals/forms (operators/_normal_tail)
from weather_stream_processor_spark.operators._normal_tail import (
    normal_sf_col as _lr_sf_col,
    normal_sf_sql as _lr_sf_sql,
)

_LIVES_SQL = f"""
        horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
        lives AS (
            SELECT {_LR_ARM_SQL} AS arm,
                   CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                        AS BIGINT) AS lifetime_days,
                   CASE WHEN date_diff('day', MAX(o_orderdate), ho.h)
                             > {_CHURN_HORIZON_DAYS}
                        THEN 1 ELSE 0 END AS churned
            FROM orders CROSS JOIN horizon ho
            GROUP BY o_custkey, ho.h
        )
"""


def _lives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (arm, lifetime_days, churned) — the shared survival
    construction of kaplan_meier_retention with the deterministic
    Knuth-hash arm split added (same hash family as operators/evals.py)."""
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            (
                F.shiftright(
                    (F.col("o_custkey") % _LR_MOD) * F.lit(_LR_KNUTH), 16
                )
                % 2
            ).alias("arm"),
            F.datediff("last_order", "first_order")
            .cast("bigint")
            .alias("lifetime_days"),
            F.when(
                F.datediff(F.col("h"), F.col("last_order"))
                > _CHURN_HORIZON_DAYS,
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )


@register(
    "logrank_test_arms",
    oracle=f"""
        WITH {_LIVES_SQL},
        tot AS (
            SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n0,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1
            FROM lives
        ),
        grid AS (
            SELECT lifetime_days,
                   CAST(SUM(CASE WHEN arm = 0 THEN churned ELSE 0 END)
                        AS BIGINT) AS d0,
                   CAST(SUM(CASE WHEN arm = 1 THEN churned ELSE 0 END)
                        AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS e0,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS e1
            FROM lives GROUP BY lifetime_days
        ),
        risk AS (
            SELECT lifetime_days, d0, d1,
                   CAST(t.n0 - COALESCE(SUM(e0) OVER w, 0) AS BIGINT)
                       AS r0,
                   CAST(t.n1 - COALESCE(SUM(e1) OVER w, 0) AS BIGINT)
                       AS r1,
                   t.n0, t.n1
            FROM grid CROSS JOIN tot t
            WINDOW w AS (ORDER BY lifetime_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        terms AS (
            SELECT n0, n1, d1,
                   (d0 + d1) * 1.0 * r1 / (r0 + r1) AS e1_t,
                   CASE WHEN r0 + r1 > 1 THEN
                       (d0 + d1) * 1.0 * r0 * r1
                           * (r0 + r1 - d0 - d1)
                           / ((r0 + r1) * 1.0 * (r0 + r1) * (r0 + r1 - 1))
                   ELSE 0.0 END AS v_t
            FROM risk WHERE d0 + d1 > 0
        ),
        s AS (
            SELECT MAX(n0) AS n_control, MAX(n1) AS n_treat,
                   CAST(SUM(d1) AS BIGINT) AS observed_treat,
                   SUM(e1_t) AS e1_sum, SUM(v_t) AS v_sum
            FROM terms
        ),
        zed AS (
            SELECT n_control, n_treat, observed_treat, e1_sum, v_sum,
                   (observed_treat - e1_sum) / SQRT(v_sum) AS z
            FROM s
        )
        SELECT n_control, n_treat, observed_treat,
               ROUND(e1_sum, 6) AS expected_treat,
               ROUND(v_sum, 6) AS variance,
               ROUND(z, 6) AS z_score,
               ROUND(2.0 * {_lr_sf_sql("abs(z)")}, 6) AS p_value
        FROM zed
    """,
    doc=(
        "LOG-RANK TEST between the two deterministic Knuth-hash arms "
        "over the Kaplan-Meier lifetime construction — THE standard "
        "two-group survival comparison (Mantel-Cox): at every distinct "
        "event time the treated group's observed churn is set against "
        "its hypergeometric expectation given the pooled risk sets, "
        "O-E summed, variance from the hypergeometric form with the "
        "(n_t - d_t)/(n_t - 1) finite-population factor, z = "
        "(O-E)/sqrt(V), two-sided p from the shared A&S 26.2.17 tail "
        "literal. This is the INFERENCE layer the KM curve lacks (two "
        "curves always differ somewhere; log-rank says whether beyond "
        "chance) — under the null the hash arms are exchangeable, so "
        "the fixture's expected answer is 'no difference', and the "
        "operator proves the machinery honest. At-risk counts come "
        "from integer cumulatives over the bounded distinct-lifetime "
        "grid (day-span-bounded, the KM window class); every d/e/r is "
        "an exact BIGINT; doubles appear only in the per-time E/V "
        "terms and their final rounded sums. One per-customer hash "
        "aggregate is the only corpus-scale shuffle at 100 TB."
    ),
    tags=("analytics", "retention", "statistics", "experimentation", "window"),
)
def logrank_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    lives = _lives(spark, sf_dir)
    tot = lives.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    grid = lives.groupBy("lifetime_days").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("churned")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.when(F.col("arm") == 1, F.col("churned")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("e0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("e1"),
    )
    w = Window.orderBy("lifetime_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "d0",
        "d1",
        "n0",
        "n1",
        (F.col("n0") - F.coalesce(F.sum("e0").over(w), F.lit(0)))
        .cast("bigint")
        .alias("r0"),
        (F.col("n1") - F.coalesce(F.sum("e1").over(w), F.lit(0)))
        .cast("bigint")
        .alias("r1"),
    )
    d = F.col("d0") + F.col("d1")
    r = F.col("r0") + F.col("r1")
    terms = risk.filter(d > 0).select(
        "n0",
        "n1",
        "d1",
        (d * F.lit(1.0) * F.col("r1") / r).alias("e1_t"),
        F.when(
            r > 1,
            d
            * F.lit(1.0)
            * F.col("r0")
            * F.col("r1")
            * (r - d)
            / (r * F.lit(1.0) * r * (r - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("v_t"),
    )
    s = terms.agg(
        F.max("n0").alias("n_control"),
        F.max("n1").alias("n_treat"),
        F.sum("d1").cast("bigint").alias("observed_treat"),
        F.sum("e1_t").alias("e1_sum"),
        F.sum("v_t").alias("v_sum"),
    )
    z = (F.col("observed_treat") - F.col("e1_sum")) / F.sqrt(F.col("v_sum"))
    sf = _lr_sf_col(F.abs(z))
    return s.select(
        "n_control",
        "n_treat",
        "observed_treat",
        F.round(F.col("e1_sum"), 6).alias("expected_treat"),
        F.round(F.col("v_sum"), 6).alias("variance"),
        F.round(z, 6).alias("z_score"),
        F.round(F.lit(2.0) * sf, 6).alias("p_value"),
    )


_RMST_TAU = 1460  # restriction horizon (days) — inside the fixture's
# ~2500-day lifetime span so the restricted area reflects real events;
# groups with NO event grid rows at or below tau still emit rmst = tau
# exactly (S = 1 throughout the restriction window) via the left-join
# guard below, rather than silently vanishing.


@register(
    "rmst_restricted_mean_survival",
    oracle=f"""
        WITH {_LIVES_SQL},
        tot AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm
            FROM lives GROUP BY arm
        ),
        grid AS (
            SELECT arm, lifetime_days,
                   CAST(SUM(churned) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS e
            FROM lives GROUP BY arm, lifetime_days
        ),
        risk AS (
            SELECT g.arm, lifetime_days, d,
                   CAST(t.n_arm - COALESCE(SUM(e) OVER w, 0) AS BIGINT) AS r,
                   t.n_arm
            FROM grid g JOIN tot t USING (arm)
            WINDOW w AS (PARTITION BY g.arm ORDER BY lifetime_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        surv AS (
            SELECT arm, lifetime_days, d, n_arm,
                   EXP(SUM(LN(1.0 - d * 1.0 / r)) OVER (
                       PARTITION BY arm ORDER BY lifetime_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                       AS s
            FROM risk
        ),
        capped AS (
            SELECT arm, lifetime_days, d, s,
                   LAG(s, 1, 1.0) OVER (PARTITION BY arm
                                        ORDER BY lifetime_days) AS s_prev,
                   LAG(lifetime_days, 1, 0) OVER (PARTITION BY arm
                                                  ORDER BY lifetime_days)
                       AS t_prev
            FROM surv WHERE lifetime_days <= {_RMST_TAU}
        ),
        area AS (
            SELECT arm,
                   CAST(SUM(d) AS BIGINT) AS n_events,
                   SUM(s_prev * (lifetime_days - t_prev))
                       + MAX_BY(s, lifetime_days)
                         * ({_RMST_TAU} - MAX(lifetime_days)) AS a
            FROM capped GROUP BY arm
        )
        SELECT t.arm,
               t.n_arm AS n_customers,
               CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
               ROUND(COALESCE(a.a, {_RMST_TAU}.0), 6) AS rmst_days,
               ROUND(COALESCE(a.a, {_RMST_TAU}.0) / {_RMST_TAU}.0, 6)
                   AS rmst_share
        FROM tot t LEFT JOIN area a USING (arm)
    """,
    doc=(
        "RESTRICTED MEAN SURVIVAL TIME per deterministic arm at tau = "
        f"{_RMST_TAU} days — the EFFECT-SIZE companion to "
        "logrank_test_arms (a log-rank p says 'the curves differ'; the "
        "RMST difference says BY HOW MANY DAYS of expected retention, "
        "the clinically-reportable number hazard ratios obscure when "
        "hazards cross): the area under the Kaplan-Meier curve up to "
        "tau, computed exactly as sum of S(t_{{i-1}})(t_i - t_{{i-1}}) "
        "rectangle strips over the bounded distinct-lifetime grid plus "
        "the terminal strip S(t_last)(tau - t_last) via MAX_BY. The KM "
        "product runs as exp-of-running-ln-sum in window order on both "
        "engines (the kaplan_meier_retention float contract), at-risk "
        "counts are integer cumulatives, and the windows are "
        "partitioned by arm over the day-span-bounded grid. One "
        "per-customer hash aggregate is the only corpus-scale shuffle."
    ),
    tags=("analytics", "retention", "statistics", "experimentation", "window"),
)
def rmst_restricted_mean_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    lives = _lives(spark, sf_dir)
    tot = lives.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm")
    )
    grid = lives.groupBy("arm", "lifetime_days").agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("e"),
    )
    w_prev = (
        Window.partitionBy("arm")
        .orderBy("lifetime_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("arm")
        .orderBy("lifetime_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lag = Window.partitionBy("arm").orderBy("lifetime_days")
    risk = grid.join(F.broadcast(tot), "arm").select(
        "arm",
        "lifetime_days",
        "d",
        "n_arm",
        (F.col("n_arm") - F.coalesce(F.sum("e").over(w_prev), F.lit(0)))
        .cast("bigint")
        .alias("r"),
    )
    surv = risk.select(
        "arm",
        "lifetime_days",
        "d",
        "n_arm",
        F.exp(
            F.sum(F.log(F.lit(1.0) - F.col("d") * F.lit(1.0) / F.col("r"))).over(
                w_run
            )
        ).alias("s"),
    )
    capped = surv.filter(F.col("lifetime_days") <= _RMST_TAU).select(
        "arm",
        "lifetime_days",
        "d",
        "s",
        F.lag("s", 1, 1.0).over(w_lag).alias("s_prev"),
        F.lag("lifetime_days", 1, 0).over(w_lag).alias("t_prev"),
    )
    a_expr = F.sum(
        F.col("s_prev") * (F.col("lifetime_days") - F.col("t_prev"))
    ) + F.max_by("s", "lifetime_days") * (
        F.lit(_RMST_TAU) - F.max("lifetime_days")
    )
    area = capped.groupBy("arm").agg(
        F.sum("d").cast("bigint").alias("n_events"),
        a_expr.alias("a"),
    )
    return tot.join(area, "arm", "left").select(
        "arm",
        F.col("n_arm").alias("n_customers"),
        F.coalesce(F.col("n_events"), F.lit(0))
        .cast("bigint")
        .alias("n_events"),
        F.round(F.coalesce(F.col("a"), F.lit(float(_RMST_TAU))), 6).alias(
            "rmst_days"
        ),
        F.round(
            F.coalesce(F.col("a"), F.lit(float(_RMST_TAU)))
            / F.lit(float(_RMST_TAU)),
            6,
        ).alias("rmst_share"),
    )


@register(
    "theils_u_uncertainty",
    oracle="""
        WITH cont AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        ml AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nl
               FROM cont GROUP BY lang),
        ms AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ns
               FROM cont GROUP BY source),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cont),
        ents AS (
            SELECT
                (SELECT SUM(-1.0 * nl / t.nt * LN(1.0 * nl / t.nt))
                 FROM ml) AS h_lang,
                (SELECT SUM(-1.0 * ns / t.nt * LN(1.0 * ns / t.nt))
                 FROM ms) AS h_source,
                (SELECT SUM(1.0 * c.n / t.nt
                            * LN((1.0 * t.nt * c.n)
                                 / (1.0 * ml.nl * ms.ns)))
                 FROM cont c
                 JOIN ml USING (lang) JOIN ms USING (source)) AS mi,
                t.nt
            FROM tot t
        )
        SELECT nt AS n_docs,
               ROUND(h_lang, 6) AS h_lang,
               ROUND(h_source, 6) AS h_source,
               ROUND(mi, 6) AS mutual_information,
               ROUND(mi / h_lang, 6) AS u_lang_given_source,
               ROUND(mi / h_source, 6) AS u_source_given_lang
        FROM ents
    """,
    doc=(
        "THEIL'S U (uncertainty coefficient) for the lang x source "
        "contingency, BOTH directions — the ASYMMETRIC categorical "
        "association the registered chi-square/Cramer's-V audit cannot "
        "express: U(lang|source) = I(lang;source)/H(lang) says how much "
        "knowing the source reduces language uncertainty, and "
        "U(source|lang) answers the reverse — which is the actual "
        "curation question ('does source determine language?' is NOT "
        "'does language determine source?'; V conflates them). "
        "Entropies and mutual information reduce to per-cell "
        "deterministic ln terms over the bounded |langs| x |sources| "
        "contingency and its marginals, summed over <=100 cells and "
        "rounded at 6dp. One hash aggregate to the contingency; "
        "everything after is cell arithmetic. One corpus-scale shuffle "
        "at 100 TB."
    ),
    tags=("analytics", "statistics", "quality", "llm"),
)
def theils_u_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    docs = load_table(spark, sf_dir, "documents")
    cont = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )

    def build(cont: DataFrame) -> DataFrame:
        ml = cont.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nl"))
        ms = cont.groupBy("source").agg(
            F.sum("n").cast("bigint").alias("ns")
        )
        tot = cont.agg(F.sum("n").cast("bigint").alias("nt"))
        nt = F.col("nt")
        h_lang = (
            ml.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.lit(-1.0)
                    * F.col("nl")
                    / nt
                    * F.log(F.lit(1.0) * F.col("nl") / nt)
                ).alias("h_lang")
            )
        )
        h_source = (
            ms.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.lit(-1.0)
                    * F.col("ns")
                    / nt
                    * F.log(F.lit(1.0) * F.col("ns") / nt)
                ).alias("h_source")
            )
        )
        mi = (
            cont.join(ml, "lang")
            .join(ms, "source")
            .crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.lit(1.0)
                    * F.col("n")
                    / nt
                    * F.log(
                        (F.lit(1.0) * nt * F.col("n"))
                        / (F.lit(1.0) * F.col("nl") * F.col("ns"))
                    )
                ).alias("mi")
            )
        )
        return (
            tot.crossJoin(h_lang)
            .crossJoin(h_source)
            .crossJoin(mi)
            .select(
                F.col("nt").alias("n_docs"),
                F.round(F.col("h_lang"), 6).alias("h_lang"),
                F.round(F.col("h_source"), 6).alias("h_source"),
                F.round(F.col("mi"), 6).alias("mutual_information"),
                F.round(F.col("mi") / F.col("h_lang"), 6).alias(
                    "u_lang_given_source"
                ),
                F.round(F.col("mi") / F.col("h_source"), 6).alias(
                    "u_source_given_lang"
                ),
            )
        )

    # the contingency feeds four aggregate subtrees — persist it so the
    # documents scan executes once
    return persisted_result(cont, build)


@register(
    "funnel_conformance_sequences",
    oracle="""
        WITH firsts AS (
            SELECT user_id, substr(event_type, 1, 1) AS letter,
                   MIN(ts) AS first_ts
            FROM events
            WHERE event_type IN ('signup', 'view', 'click', 'purchase')
            GROUP BY 1, 2
        ),
        seqs AS (
            SELECT user_id,
                   string_agg(letter, '' ORDER BY first_ts, letter)
                       AS first_seq
            FROM firsts GROUP BY user_id
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seqs)
        SELECT first_seq,
               CAST(levenshtein(first_seq, 'svcp') AS BIGINT)
                   AS edit_distance,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(COUNT(*) * 1.0 / n, 6) AS user_share
        FROM seqs CROSS JOIN tot
        GROUP BY first_seq, n
    """,
    doc=(
        "PROCESS-MINING CONFORMANCE of user adoption journeys: each "
        "user's FIRST-OCCURRENCE sequence over the funnel event types "
        "(the order in which signup/view/click/purchase first appear "
        "in their history, error events excluded as process noise) is "
        "compared to the canonical adoption path 'svcp' by edit "
        "distance — the conformance-checking step of process mining "
        "(van der Aalst): top_event_paths says which raw trigram paths "
        "are common, event_pattern_regex finds ONE pattern, this "
        "scores EVERY user's journey against the designed process and "
        "histograms the variants (distance 0 = textbook adopters; "
        "distance 2+ = journeys the funnel design never anticipated — "
        "the rows a PM actually reads). The first-occurrence trick "
        "bounds each user's trace at <= 4 letters, so the "
        "per-sequence levenshtein is O(16) and the output is bounded "
        "by the <= 65 subset-permutations regardless of corpus size; "
        "the letters are ASCII so Spark's code-point levenshtein and "
        "DuckDB's byte levenshtein agree (the CER contract). Ties on "
        "first_ts break by letter, mirrored. One (user, type) MIN "
        "aggregate + one per-user fold; nothing else is corpus-scale."
    ),
    tags=("analytics", "funnel", "llm", "quality"),
)
def funnel_conformance_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(
            F.col("event_type").isin("signup", "view", "click", "purchase")
        )
        .groupBy(
            "user_id", F.substring("event_type", 1, 1).alias("letter")
        )
        .agg(F.min("ts").alias("first_ts"))
    )
    # array_sort on (first_ts, letter) structs = the oracle's ORDER BY
    seqs = firsts.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("first_ts", "letter"))),
                lambda s: s.letter,
            ),
        ).alias("first_seq")
    )
    tot = seqs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        seqs.crossJoin(F.broadcast(tot))
        .groupBy("first_seq", "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            "first_seq",
            F.levenshtein(F.col("first_seq"), F.lit("svcp"))
            .cast("bigint")
            .alias("edit_distance"),
            "n_users",
            F.round(F.col("n_users") * F.lit(1.0) / F.col("n"), 6).alias(
                "user_share"
            ),
        )
    )
