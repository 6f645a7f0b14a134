"""Evaluation / experimentation / release-audit operators.

A corpus pipeline doesn't stop at producing data — it has to MEASURE the
data and the models/filters it feeds: ranking quality (NDCG/precision/
recall over a retrieval run), classifier threshold quality (exact
distributed ROC-AUC, calibration error), online experiments (two-
proportion conversion lift), privacy release audits beyond k-anonymity
(l-diversity / entropy), retrieval-augmented-generation plumbing
(chunk manifests), multi-pattern compliance scans, and physical-layout
advice (per-column encoding selection from cardinality profiles).

All of it follows the house determinism rules: scores rounded BEFORE any
ranking, every ordered window runs over a grid whose cardinality is
bounded by construction (distinct 4-dp scores, 10 calibration bins, a
4-row relevance histogram, rank<=10 cutoffs) — never over raw rows — and
experiment arms come from the same cross-engine Knuth multiplicative
hash the sampling family uses (reference parity: the reference's only
"evaluation" is its console sink, weather_stream.py:151-165; this module
is mandated-extension surface per SURVEY §2.6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weather_stream_processor_spark.functions import tokens
from weather_stream_processor_spark.operators._normal_tail import normal_sf_sql
from weather_stream_processor_spark.operators.text import _BM25_ORACLE
from weather_stream_processor_spark.plans.caching import truncate_lineage
from weather_stream_processor_spark.registry import register
from weather_stream_processor_spark.sources import load_table

# same cross-engine hash as operators/sampling.py (see rationale there:
# xxhash64 would be the production choice but is engine-specific; the
# Knuth multiplicative hash computes identically in Spark and DuckDB)
_KNUTH = 2654435761
_MOD = 2147483647


def _arm(col: Column) -> Column:
    return F.shiftright((col % _MOD) * F.lit(_KNUTH), 16) % 2


_ARM_SQL = f"(((user_id % {_MOD}) * {_KNUTH}) >> 16) % 2"

# ---------------------------------------------------------------------------
# ROC-AUC + calibration: the "is this quality score any good" pair.
# Score under test: lexical diversity (distinct tokens / tokens), a real
# quality signal; label: lang = 'en'. Both are stand-ins — the OPERATOR is
# the exact distributed AUC/ECE machinery, reusable for any (score, label).
# ---------------------------------------------------------------------------

_SCORE_CTE = """
    scored AS (
        SELECT doc_id,
               ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')), 4) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(F.size(F.array_distinct(t)) / F.size(t), 4).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )


# Shared Mann-Whitney run construction over the bounded 4-dp score grid
# — the single source both roc_auc_exact and auc_hanley_mcneil_ci build
# on (oracle CTE chain + builder), so the score/grid/tie contract can
# only ever change in one place.
_AUC_RUN_CTES = f"""{_SCORE_CTE},
        grid AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS pos,
                   CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg
            FROM scored GROUP BY score
        ),
        run AS (
            SELECT pos, neg,
                   COALESCE(SUM(neg) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below,
                   CAST(SUM(pos) OVER () AS BIGINT) AS n_pos,
                   CAST(SUM(neg) OVER () AS BIGINT) AS n_neg
            FROM grid
        )"""


def _auc_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, neg, neg_below, n_pos, n_neg) over the bounded score grid;
    ordered + whole-frame windows run over <=10^4 rows regardless of
    corpus size, and documents is scanned exactly ONCE (totals come from
    the grid itself — Catalyst does not dedupe common subtrees)."""
    s = _scored(spark, sf_dir)
    grid = s.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("neg"),
    )
    w_below = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return grid.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_below), F.lit(0)).alias("neg_below"),
        F.sum("pos").over(w_all).cast("bigint").alias("n_pos"),
        F.sum("neg").over(w_all).cast("bigint").alias("n_neg"),
    )


@register(
    "roc_auc_exact",
    oracle=f"""
        WITH {_AUC_RUN_CTES}
        SELECT n_pos, n_neg,
               ROUND(SUM(pos * (neg_below + 0.5 * neg))
                     / (n_pos * 1.0 * n_neg), 6) AS auc,
               ROUND(2.0 * SUM(pos * (neg_below + 0.5 * neg))
                     / (n_pos * 1.0 * n_neg) - 1.0, 6) AS gini
        FROM run
        GROUP BY n_pos, n_neg
    """,
    doc=(
        "EXACT DISTRIBUTED ROC-AUC of a quality score against a binary "
        "label, via the Mann-Whitney identity: AUC = P(score_pos > "
        "score_neg) + 0.5*P(tie) = sum over the DISTINCT-SCORE GRID of "
        "pos(s) * (negatives strictly below s + half the negatives AT s), "
        "over n_pos*n_neg. Scores are rounded to 4dp first, so the grid — "
        "and therefore the one ordered window — is bounded at 10^4 rows "
        "regardless of corpus size (the documented-bounded window class); "
        "upstream is a single map-side projection + one hash aggregate. "
        "This is how you compute exact AUC at 100 TB without the sort-"
        "everything rank assignment sklearn does; gini = 2*AUC - 1 rides "
        "along. Tie handling is the textbook mid-rank correction, so the "
        "result equals sklearn.roc_auc_score on the rounded scores."
    ),
    tags=("evals", "llm", "statistics", "headline"),
)
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = _auc_run(spark, sf_dir)
    num = F.sum(F.col("pos") * (F.col("neg_below") + 0.5 * F.col("neg")))
    return (
        run.groupBy("n_pos", "n_neg")
        .agg(
            F.round(num / (F.col("n_pos") * F.col("n_neg")), 6).alias("auc"),
            F.round(
                2.0 * num / (F.col("n_pos") * F.col("n_neg")) - 1.0, 6
            ).alias("gini"),
        )
        .select("n_pos", "n_neg", "auc", "gini")
    )


_N_CAL_BINS = 10


@register(
    "calibration_bins_ece",
    oracle=f"""
        WITH {_SCORE_CTE},
        binned AS (
            SELECT LEAST(CAST(FLOOR(score * {_N_CAL_BINS}) AS BIGINT),
                         {_N_CAL_BINS - 1}) AS bin,
                   score, label
            FROM scored
        ),
        per_bin AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(AVG(score), 6) AS avg_score,
                   ROUND(AVG(label * 1.0), 6) AS pos_rate
            FROM binned GROUP BY bin
        ),
        tot AS (SELECT SUM(n) AS n_tot FROM per_bin)
        SELECT bin, n, avg_score, pos_rate,
               ROUND(ABS(avg_score - pos_rate), 6) AS gap,
               ROUND(SUM(n * ABS(avg_score - pos_rate))
                         OVER () / ANY_VALUE(t.n_tot) OVER (), 6) AS ece
        FROM per_bin CROSS JOIN tot t
    """,
    doc=(
        "CALIBRATION CURVE + EXPECTED CALIBRATION ERROR of a [0,1] score "
        f"against a binary label: {_N_CAL_BINS} equal-width bins, per-bin "
        "mean score (confidence) vs empirical positive rate, |gap|, and "
        "ECE = the n-weighted mean gap — the standard diagnostic before a "
        "score is used as a probability (e.g. a quality-filter threshold "
        "chosen as 'keep if P(good) > 0.8' is only meaningful if the "
        "score is calibrated). One hash aggregate on the bin key; the "
        f"unpartitioned window runs over the {_N_CAL_BINS}-row bin table, "
        "bounded by construction. avg_score and pos_rate are rounded "
        "BEFORE the gap/ECE arithmetic so both engines difference "
        "identical 6-dp quantities (the same round-then-derive rule the "
        "similarity family uses before ranking)."
    ),
    tags=("evals", "llm", "statistics"),
)
def calibration_bins_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    binned = s.select(
        F.least(
            F.floor(F.col("score") * _N_CAL_BINS).cast("bigint"),
            F.lit(_N_CAL_BINS - 1),
        ).alias("bin"),
        "score",
        "label",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.avg(F.col("label") * 1.0), 6).alias("pos_rate"),
    )
    gap = F.round(F.abs(F.col("avg_score") - F.col("pos_rate")), 6)
    # 10-row frame: bounded by the bin count, never the corpus
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_bin.select(
        "bin",
        "n",
        "avg_score",
        "pos_rate",
        gap.alias("gap"),
        F.round(
            F.sum(F.col("n") * gap).over(w_all) / F.sum("n").over(w_all), 6
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# Ranking evaluation: NDCG / precision / recall @k for the BM25 run.
# ---------------------------------------------------------------------------

_NDCG_K = 10
_QUERY_TERMS = ("spark", "join", "window")  # the bm25_top_docs query


def _rel_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _QUERY_TERMS)
    return f"""
        rel AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS grade
            FROM (
                SELECT DISTINCT doc_id, tok
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok IN ({terms})
            )
            GROUP BY doc_id
        )
    """


@register(
    "ndcg_retrieval_eval",
    oracle=f"""
        WITH run AS ({_BM25_ORACLE}),
        {_rel_sql()},
        ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk,
                   run.doc_id,
                   COALESCE(r.grade, 0) AS grade
            FROM run LEFT JOIN rel r USING (doc_id)
        ),
        topk AS (SELECT * FROM ranked WHERE rnk <= {_NDCG_K}),
        hist AS (
            SELECT grade, CAST(COUNT(*) AS BIGINT) AS n FROM rel
            WHERE grade > 0 GROUP BY grade
        ),
        ideal AS (
            -- ideal top-k gains from the 3-row grade HISTOGRAM, not a
            -- corpus sort: take grades best-first until k slots are used
            SELECT grade,
                   LEAST(n, {_NDCG_K} - COALESCE(SUM(n) OVER (
                       ORDER BY grade DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)) AS take,
                   COALESCE(SUM(n) OVER (
                       ORDER BY grade DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS used
            FROM hist
        ),
        ideal_gains AS (
            SELECT grade, used, take FROM ideal WHERE take > 0
        ),
        ideal_slots AS (
            SELECT (POWER(2, grade) - 1) AS gain,
                   used + s.i AS slot
            FROM ideal_gains,
                 LATERAL (SELECT unnest(generate_series(1, CAST(take AS BIGINT)))
                          AS i) s
        ),
        idcg AS (
            SELECT SUM(gain / (ln(slot + 1.0) / ln(2.0))) AS idcg
            FROM ideal_slots WHERE slot <= {_NDCG_K}
        ),
        n_rel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rel WHERE grade > 0)
        SELECT t.rnk, t.doc_id, t.grade,
               ROUND(SUM((POWER(2, t.grade) - 1) / (ln(t.rnk + 1.0) / ln(2.0)))
                         OVER (ORDER BY t.rnk
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / i.idcg, 6) AS ndcg_at_k,
               ROUND(SUM(CASE WHEN t.grade > 0 THEN 1 ELSE 0 END)
                         OVER (ORDER BY t.rnk
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1.0 / t.rnk, 6) AS precision_at_k,
               ROUND(SUM(CASE WHEN t.grade > 0 THEN 1 ELSE 0 END)
                         OVER (ORDER BY t.rnk
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1.0 / nr.n, 6) AS recall_at_k
        FROM topk t CROSS JOIN idcg i CROSS JOIN n_rel nr
    """,
    doc=(
        f"RANKING EVALUATION of the bm25_top_docs run: per rank 1..{_NDCG_K} "
        "the graded relevance (number of distinct query terms the doc "
        "contains, 0-3), running NDCG@k (2^grade-1 gains, log2 discount), "
        "precision@k and recall@k — the IR scorecard every retrieval stack "
        "reports. The scale trick is the IDEAL DCG: instead of sorting the "
        "corpus by grade (a global sort), the ideal top-k gains are "
        "reconstructed arithmetically from the <=3-row GRADE HISTOGRAM "
        "(take grades best-first until k slots fill) — an O(|grades|) "
        "computation from one hash aggregate, exact for any corpus size. "
        "The retrieved list reuses bm25_top_docs' registered plan "
        "(broadcast IDF over query-term postings only, "
        "TakeOrderedAndProject top-k); every window here runs over <=20 "
        "rows. Metrics rounded at 6dp on both engines."
    ),
    tags=("evals", "retrieval", "llm", "headline"),
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.registry import _REGISTRY

    # r11 restructure (guide §2.3/§2.4, measured in OPTIMIZATION_r11.md):
    # the old plan computed `rel` by token EXPLODE -> isin -> distinct ->
    # groupBy (three exchanges over token-mass rows) and consumed it in
    # THREE subtrees (run join, grade histogram, n_rel), so the physical
    # plan ran that explode pipeline three times (16 corpus scans, 44
    # exchanges). The grade is a per-row expression — the number of
    # distinct query terms in the token array is size(array_intersect) —
    # so `rel` is now a shuffle-FREE map over the scan; the <=3-row grade
    # histogram is lineage-cut once and feeds both idcg and n_rel; the
    # 20-row bm25 run is lineage-cut (it was consumed twice) and its
    # grades come from a broadcast pre-filter of `rel` instead of a
    # corpus-side sort-merge join.
    run = truncate_lineage(_REGISTRY["bm25_top_docs"].builder(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents")
    qterms = F.array(*[F.lit(t) for t in _QUERY_TERMS])
    rel = docs.select(
        "doc_id",
        F.size(F.array_intersect(tokens(F.col("text")), qterms))
        .cast("bigint")
        .alias("grade"),
    ).filter(F.col("grade") > 0)
    w_rank = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))  # 20-row frame
    rel_run = rel.join(F.broadcast(run.select("doc_id")), "doc_id")
    ranked = (
        run.join(F.broadcast(rel_run), "doc_id", "left")
        .select(
            "doc_id",
            "bm25",
            F.coalesce("grade", F.lit(0)).alias("grade"),
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _NDCG_K)
    )

    hist = truncate_lineage(
        rel.groupBy("grade").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    w_used = Window.orderBy(F.desc("grade")).rowsBetween(
        Window.unboundedPreceding, -1
    )  # <=3-row frame (grade domain)
    ideal = hist.select(
        "grade",
        F.coalesce(F.sum("n").over(w_used), F.lit(0)).alias("used"),
        F.least(
            F.col("n"),
            F.lit(_NDCG_K)
            - F.coalesce(F.sum("n").over(w_used), F.lit(0)),
        ).cast("bigint").alias("take"),
    ).filter(F.col("take") > 0)
    slots = ideal.select(
        (F.pow(F.lit(2.0), F.col("grade")) - 1).alias("gain"),
        F.explode(
            F.sequence(F.lit(1).cast("bigint"), F.col("take"))
        ).alias("i"),
        "used",
    ).select("gain", (F.col("used") + F.col("i")).alias("slot"))
    idcg = slots.filter(F.col("slot") <= _NDCG_K).agg(
        F.sum(F.col("gain") / (F.log(F.col("slot") + 1.0) / F.log(F.lit(2.0))))
        .alias("idcg")
    )
    # n_rel = total docs with grade > 0 — a sum over the <=3-row
    # histogram, not a fourth pass over the corpus
    n_rel = hist.agg(F.sum("n").cast("bigint").alias("n"))

    w_run = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    hit = F.when(F.col("grade") > 0, 1).otherwise(0)
    dcg = F.sum(
        (F.pow(F.lit(2.0), F.col("grade")) - 1)
        / (F.log(F.col("rnk") + 1.0) / F.log(F.lit(2.0)))
    ).over(w_run)
    return (
        ranked.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(n_rel))
        .select(
            "rnk",
            "doc_id",
            "grade",
            F.round(dcg / F.col("idcg"), 6).alias("ndcg_at_k"),
            F.round(F.sum(hit).over(w_run) / F.col("rnk"), 6).alias(
                "precision_at_k"
            ),
            F.round(F.sum(hit).over(w_run) / F.col("n"), 6).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Online experimentation: deterministic arms + two-proportion z.
# ---------------------------------------------------------------------------


_CONV_SHARE = 0.22  # high-intent threshold: purchases / events per user


@register(
    "ab_conversion_lift",
    oracle=f"""
        WITH arms AS (
            SELECT user_id,
                   {_ARM_SQL} AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                             >= {_CONV_SHARE}
                        THEN 1 ELSE 0 END AS converted
            FROM events
            GROUP BY user_id
        ),
        per_arm AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_converted
            FROM arms GROUP BY arm
        )
        SELECT
            MAX(CASE WHEN arm = 0 THEN n_users END) AS n_control,
            MAX(CASE WHEN arm = 1 THEN n_users END) AS n_treat,
            MAX(CASE WHEN arm = 0 THEN n_converted END) AS conv_control,
            MAX(CASE WHEN arm = 1 THEN n_converted END) AS conv_treat,
            ROUND(MAX(CASE WHEN arm = 0 THEN n_converted * 1.0 / n_users END),
                  6) AS rate_control,
            ROUND(MAX(CASE WHEN arm = 1 THEN n_converted * 1.0 / n_users END),
                  6) AS rate_treat,
            ROUND(MAX(CASE WHEN arm = 1 THEN n_converted * 1.0 / n_users END)
                  - MAX(CASE WHEN arm = 0 THEN n_converted * 1.0 / n_users END),
                  6) AS abs_lift,
            ROUND((MAX(CASE WHEN arm = 1 THEN n_converted * 1.0 / n_users END)
                   - MAX(CASE WHEN arm = 0 THEN n_converted * 1.0 / n_users END))
                  / SQRT(
                      (SUM(n_converted) * 1.0 / SUM(n_users))
                      * (1.0 - SUM(n_converted) * 1.0 / SUM(n_users))
                      * (1.0 / MAX(CASE WHEN arm = 0 THEN n_users END)
                         + 1.0 / MAX(CASE WHEN arm = 1 THEN n_users END))),
                  6) AS z_score
        FROM per_arm
    """,
    doc=(
        "A/B CONVERSION LIFT with a pooled two-proportion z-test: users "
        "are assigned to control/treatment by the same cross-engine Knuth "
        "hash the sampling family uses (deterministic, replayable, no RNG "
        "state — the property an experiment assignment MUST have so a "
        "re-run or a different engine reproduces the same arms), "
        "conversion = purchases exceed "
        f"{_CONV_SHARE:.0%} of the user's events (every fixture user "
        "purchases at least once, so presence-of-purchase is degenerate; "
        "a SHARE threshold keeps both outcome classes populated at every "
        "scale point). One "
        "per-user hash aggregate (map-side partial over events), a 2-row "
        "per-arm rollup, and the z statistic from the pooled-variance "
        "formula — the sequentially-valid-stats layer (CUSUM, SPRT) sits "
        "downstream of exactly this table. At 100 TB the per-user "
        "aggregate is the only shuffle and it is mergeable/incremental."
    ),
    tags=("evals", "statistics", "experimentation"),
)
def ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(_arm(F.col("user_id")).alias("arm"), "converted")
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    n0 = F.max(F.when(F.col("arm") == 0, F.col("n_users")))
    n1 = F.max(F.when(F.col("arm") == 1, F.col("n_users")))
    c0 = F.max(F.when(F.col("arm") == 0, F.col("n_converted")))
    c1 = F.max(F.when(F.col("arm") == 1, F.col("n_converted")))
    r0, r1 = c0 * 1.0 / n0, c1 * 1.0 / n1
    pooled = F.sum("n_converted") * 1.0 / F.sum("n_users")
    return per_arm.agg(
        n0.alias("n_control"),
        n1.alias("n_treat"),
        c0.alias("conv_control"),
        c1.alias("conv_treat"),
        F.round(r0, 6).alias("rate_control"),
        F.round(r1, 6).alias("rate_treat"),
        F.round(r1 - r0, 6).alias("abs_lift"),
        F.round(
            (r1 - r0)
            / F.sqrt(pooled * (1.0 - pooled) * (1.0 / n0 + 1.0 / n1)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Privacy: l-diversity (distinct + entropy) over the k-anonymity combos.
# ---------------------------------------------------------------------------

_LDIV_L = 3  # required sensitive-value diversity per combo
_LDIV_LEN_BUCKET = 100  # same quasi-identifier bucketing as k_anonymity_audit


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH cells AS (
            SELECT lang,
                   CAST(FLOOR(n_chars / {_LDIV_LEN_BUCKET}) AS BIGINT)
                       AS len_bucket,
                   source,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM documents
            GROUP BY 1, 2, 3
        ),
        tot AS (
            SELECT lang, len_bucket, CAST(SUM(n) AS BIGINT) AS n_docs
            FROM cells GROUP BY 1, 2
        )
        SELECT c.lang, c.len_bucket, t.n_docs,
               CAST(COUNT(*) AS BIGINT) AS distinct_sources,
               ROUND(-SUM((c.n * 1.0 / t.n_docs) * ln(c.n * 1.0 / t.n_docs)),
                     6) AS entropy,
               CAST(COUNT(*) < {_LDIV_L} AS INT) AS at_risk_distinct,
               CAST(-SUM((c.n * 1.0 / t.n_docs) * ln(c.n * 1.0 / t.n_docs))
                    < ln({_LDIV_L}) AS INT) AS at_risk_entropy
        FROM cells c JOIN tot t USING (lang, len_bucket)
        GROUP BY c.lang, c.len_bucket, t.n_docs
    """,
    doc=(
        "L-DIVERSITY AUDIT — the follow-up k-anonymity cannot answer: a "
        "quasi-identifier combo can be large (k-anonymous) yet have every "
        "member share ONE sensitive value, so membership alone discloses "
        "it (Machanavajjhala's homogeneity attack). Per (lang, "
        f"{_LDIV_LEN_BUCKET}-char length bucket) combo: the count of "
        "distinct sensitive values (source), the Shannon entropy of the "
        f"sensitive distribution, and both flags — distinct < l={_LDIV_L} "
        f"and entropy < ln({_LDIV_L}) (entropy l-diversity, the stricter "
        "form that catches 'technically diverse but 99% one value'). "
        "Plan: two stacked hash aggregates — (combo, sensitive) cells, "
        "then combo rollup joined to combo totals — output bounded by the "
        "attribute-domain product; no windows, no corpus-sized state. The "
        "probability terms difference exact bigint counts, so the 6-dp "
        "entropy is engine-stable."
    ),
    tags=("evals", "llm", "privacy", "curation"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        F.floor(F.col("n_chars") / _LDIV_LEN_BUCKET)
        .cast("bigint")
        .alias("len_bucket"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.groupBy("lang", "len_bucket").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    p = F.col("n") * 1.0 / F.col("n_docs")
    ent = -F.sum(p * F.log(p))
    return (
        cells.join(tot, ["lang", "len_bucket"])
        .groupBy("lang", "len_bucket", "n_docs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("distinct_sources"),
            F.round(ent, 6).alias("entropy"),
            (F.count(F.lit(1)) < _LDIV_L).cast("int").alias("at_risk_distinct"),
            (ent < math.log(_LDIV_L)).cast("int").alias("at_risk_entropy"),
        )
        .select(
            "lang",
            "len_bucket",
            "n_docs",
            "distinct_sources",
            "entropy",
            "at_risk_distinct",
            "at_risk_entropy",
        )
    )


# ---------------------------------------------------------------------------
# RAG plumbing: deterministic chunk manifest with overlap.
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 200  # chars per chunk
_CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@register(
    "rag_chunk_manifest",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, text, length(text) AS n,
                   CAST(CEIL(GREATEST(length(text) - {_CHUNK_SIZE}, 0)
                             / {_CHUNK_STRIDE}.0) AS BIGINT) + 1 AS n_chunks
            FROM documents
        )
        SELECT doc_id,
               CAST(s.i AS BIGINT) AS chunk_idx,
               CAST(s.i * {_CHUNK_STRIDE} + 1 AS BIGINT) AS start_pos,
               CAST(length(substr(text, CAST(s.i * {_CHUNK_STRIDE} + 1 AS INT),
                                  {_CHUNK_SIZE})) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(s.i * {_CHUNK_STRIDE} + 1 AS INT),
                          {_CHUNK_SIZE})) AS chunk_md5,
               n_chunks
        FROM sized,
             LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) s
    """,
    doc=(
        f"RAG CHUNK MANIFEST: every document split into {_CHUNK_SIZE}-char "
        f"chunks on a {_CHUNK_STRIDE}-char stride ({_CHUNK_SIZE - _CHUNK_STRIDE}-char "
        "overlap so no passage straddles a boundary unseen) — the "
        "deterministic chunking layer under any retrieval-augmented "
        "pipeline, emitted as a manifest (doc, chunk index, 1-based start "
        "offset, actual length, content md5, per-doc chunk count) rather "
        "than materialized text, which is what an indexer actually needs "
        "and is ~30x smaller than duplicating the corpus. Plan: chunk "
        "counts are computed arithmetically per row, then "
        "sequence+explode fans out offsets and substring slices chunks — "
        "one map-side projection, ZERO shuffle, output rows ~ corpus "
        "chars / stride. The md5 gives the oracle a content-exact check "
        "without hashing full text into the shuffle."
    ),
    tags=("evals", "llm", "text", "retrieval"),
)
def rag_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = (
        F.ceil(
            F.greatest(F.length("text") - _CHUNK_SIZE, F.lit(0))
            / float(_CHUNK_STRIDE)
        ).cast("bigint")
        + 1
    )
    sized = docs.select("doc_id", "text", n_chunks.alias("n_chunks"))
    idx = F.explode(
        F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)
    )
    start = (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("bigint")
    chunk = F.col("text").substr(
        (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
        F.lit(_CHUNK_SIZE),
    )
    return (
        sized.select("doc_id", "text", "n_chunks", idx.alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            start.alias("start_pos"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
            "n_chunks",
        )
    )


# ---------------------------------------------------------------------------
# Compliance scan: multi-pattern literal matching.
# ---------------------------------------------------------------------------

# literal phrases scanned for together (one corpus pass) — the blocklist /
# compliance-scan shape; counts are non-overlapping occurrences
_SCAN_PATTERNS = (
    "data quality",
    "neural network",
    "spark",
    "weather station",
    "gradient",
)


@register(
    "multi_pattern_match",
    oracle=f"""
        WITH pats(pattern) AS (VALUES
            {", ".join(f"('{p}')" for p in _SCAN_PATTERNS)})
        SELECT d.doc_id, p.pattern,
               CAST((length(d.text) - length(replace(d.text, p.pattern, '')))
                    / length(p.pattern) AS BIGINT) AS n_hits,
               CAST(strpos(d.text, p.pattern) AS BIGINT) AS first_pos
        FROM documents d CROSS JOIN pats p
        WHERE strpos(d.text, p.pattern) > 0
    """,
    doc=(
        f"MULTI-PATTERN SCAN: one corpus pass matching {len(_SCAN_PATTERNS)} "
        "literal phrases simultaneously (per hit: non-overlapping "
        "occurrence count via the length-difference identity, and the "
        "1-based first position) — the blocklist / trademark / PII-phrase "
        "compliance scan, done as SCAN x BROADCAST(patterns) instead of "
        "one pass per pattern (at 100 TB, re-scanning the corpus per "
        "pattern is the difference between one job and N). The pattern "
        "table broadcasts (it is small by definition); matching is "
        "JVM-side codegen'd string ops — length/replace/instr — no regex "
        "engine, no Python. Output is hits only, so the non-matching "
        "(doc, pattern) grid rows never leave the mapper. A production "
        "variant with thousands of patterns swaps the broadcast "
        "nested-loop for an Aho-Corasick mapInPandas; the manifest schema "
        "stays identical."
    ),
    tags=("evals", "text", "llm", "scan"),
)
def multi_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pats = spark.createDataFrame(
        [(p,) for p in _SCAN_PATTERNS], "pattern string"
    )
    # column-valued needle: the SQL form (pyspark's instr/locate only take
    # a literal substring)
    hit = F.expr("instr(text, pattern)")
    n_hits = (
        (F.length("text") - F.length(F.expr("replace(text, pattern, '')")))
        / F.length("pattern")
    ).cast("bigint")
    return (
        docs.crossJoin(F.broadcast(pats))
        .filter(hit > 0)
        .select(
            "doc_id",
            "pattern",
            n_hits.alias("n_hits"),
            hit.cast("bigint").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Physical-layout advice: per-column encoding selection.
# ---------------------------------------------------------------------------

# (column, is_string): lineitem's full schema — the advisor profiles all of
# it in ONE aggregate pass
_LI_COLS = (
    ("l_orderkey", False),
    ("l_partkey", False),
    ("l_suppkey", False),
    ("l_linenumber", False),
    ("l_quantity", False),
    ("l_extendedprice", False),
    ("l_discount", False),
    ("l_tax", False),
    ("l_returnflag", True),
    ("l_linestatus", True),
    ("l_shipdate", False),
)

_DICT_NDV_FRAC = 0.05  # dictionary pays off when ndv <= 5% of rows


@register(
    "column_encoding_advisor",
    oracle=f"""
        WITH stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {", ".join(
                       f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_{c}, "
                       f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS nulls_{c}"
                       for c, _ in _LI_COLS
                   )}
            FROM lineitem
        ),
        long_form AS (
            {" UNION ALL ".join(
                f"SELECT '{c}' AS col_name, n_rows, ndv_{c} AS n_distinct, "
                f"nulls_{c} AS n_nulls, CAST({int(s)} AS INT) AS is_string "
                f"FROM stats"
                for c, s in _LI_COLS
            )}
        )
        SELECT col_name, n_rows, n_distinct, n_nulls,
               ROUND(n_distinct * 1.0 / n_rows, 6) AS ndv_frac,
               CASE
                   WHEN n_distinct * 1.0 / n_rows <= {_DICT_NDV_FRAC}
                       THEN 'dictionary'
                   WHEN is_string = 1 THEN 'plain'
                   ELSE 'delta_binary_packed'
               END AS encoding
        FROM long_form
    """,
    doc=(
        "COLUMN ENCODING ADVISOR over lineitem's full schema: exact NDV, "
        "null count, and NDV fraction per column, mapped to the parquet "
        f"encoding decision (NDV <= {_DICT_NDV_FRAC:.0%} of rows -> "
        "dictionary; remaining strings -> plain; remaining numerics -> "
        "delta binary packed) — the physical-layout pass a 100 TB table "
        "owner runs before (re)writing, because a mis-encoded fact table "
        "costs every downstream scan forever (dictionary-encoding a "
        "near-unique key bloats pages; plain-encoding a 3-value flag "
        "wastes ~10x). Plan: ALL columns profile in ONE aggregate pass "
        "(multiple exact count-distincts expand to a single multi-key "
        "partial aggregate — one scan, not |columns| scans), then an "
        "11-row unpivot applies the decision rule. At real scale the "
        "exact NDVs would downgrade to HLL sketches (approx_count_distinct"
        "), changing only the agg expression, and the advisor would run "
        "per row-group; the decision layer is identical."
    ),
    tags=("evals", "layout", "profiling"),
)
def column_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c, _ in _LI_COLS:
        aggs.append(F.countDistinct(c).cast("bigint").alias(f"ndv_{c}"))
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"nulls_{c}")
        )
    stats = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', ndv_{c}, nulls_{c}, {int(s)}" for c, s in _LI_COLS
    )
    long_form = stats.select(
        "n_rows",
        F.expr(
            f"stack({len(_LI_COLS)}, {stack_args}) "
            "AS (col_name, n_distinct, n_nulls, is_string)"
        ),
    )
    ndv_frac = F.col("n_distinct") * 1.0 / F.col("n_rows")
    return long_form.select(
        "col_name",
        "n_rows",
        "n_distinct",
        "n_nulls",
        F.round(ndv_frac, 6).alias("ndv_frac"),
        F.when(ndv_frac <= _DICT_NDV_FRAC, "dictionary")
        .when(F.col("is_string") == 1, "plain")
        .otherwise("delta_binary_packed")
        .alias("encoding"),
    )


# ---------------------------------------------------------------------------
# t-closeness: the distributional member of the privacy-audit trio.
# ---------------------------------------------------------------------------

_TCLOSE_T = 0.2  # max allowed total-variation distance combo vs corpus


@register(
    "t_closeness_audit",
    oracle=f"""
        WITH cells AS (
            SELECT lang,
                   CAST(FLOOR(n_chars / {_LDIV_LEN_BUCKET}) AS BIGINT)
                       AS len_bucket,
                   source,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2, 3
        ),
        tot AS (
            SELECT lang, len_bucket, CAST(SUM(n) AS BIGINT) AS n_docs
            FROM cells GROUP BY 1, 2
        ),
        gsrc AS (SELECT source, SUM(n) AS gn FROM cells GROUP BY source),
        gtot AS (SELECT SUM(n) AS g FROM cells),
        grid AS (
            SELECT t.lang, t.len_bucket, t.n_docs, gl.source,
                   gl.gn * 1.0 / gt.g AS q
            FROM tot t CROSS JOIN gsrc gl CROSS JOIN gtot gt
        ),
        j AS (
            SELECT gr.lang, gr.len_bucket, gr.n_docs,
                   COALESCE(c.n, 0) * 1.0 / gr.n_docs AS p, gr.q
            FROM grid gr
            LEFT JOIN cells c USING (lang, len_bucket, source)
        )
        SELECT lang, len_bucket, n_docs,
               ROUND(0.5 * SUM(ABS(p - q)), 6) AS tv_distance,
               CAST(0.5 * SUM(ABS(p - q)) > {_TCLOSE_T} AS INT) AS at_risk
        FROM j GROUP BY lang, len_bucket, n_docs
    """,
    doc=(
        "T-CLOSENESS AUDIT — the third member of the release-privacy "
        "trio (k_anonymity_audit: group size; l_diversity_audit: "
        "within-group diversity; this: within-group distribution vs the "
        "CORPUS distribution). l-diversity still leaks when a combo's "
        "sensitive distribution is merely skewed (99% one source in a "
        "combo vs 20% globally tells an attacker a lot without being "
        "homogeneous); t-closeness bounds the total-variation distance "
        "0.5*sum|p - q| between each quasi-identifier combo's source "
        "distribution and the global one, flagging combos beyond "
        f"t={_TCLOSE_T}. The sum must run over the FULL sensitive domain "
        "— a source absent from a combo contributes |0 - q| — so the "
        "plan builds the combos x sources GRID (combo table cross the "
        "|sources|-row broadcast global distribution) and left-joins the "
        "observed cells into it; everything is hash aggregates over "
        "attribute-domain-bounded tables. Probabilities difference "
        "exact bigint counts, so the 6-dp distance is engine-stable."
    ),
    tags=("evals", "llm", "privacy", "curation"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    # cells feeds FOUR subtrees (combo totals, global source dist, grand
    # total, and the observed-cell join): persist the one corpus-sized
    # aggregate so documents is scanned once, not four times; the
    # domain-bounded result materializes eagerly and the cache releases
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        F.floor(F.col("n_chars") / _LDIV_LEN_BUCKET)
        .cast("bigint")
        .alias("len_bucket"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return persisted_result(cells, _t_closeness_tree)


def _t_closeness_tree(cells: DataFrame) -> DataFrame:
    tot = cells.groupBy("lang", "len_bucket").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    glob = cells.groupBy("source").agg(F.sum("n").alias("gn"))
    gtot = cells.agg(F.sum("n").alias("g"))
    grid = (
        tot.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(gtot))
        .select(
            "lang",
            "len_bucket",
            "n_docs",
            "source",
            (F.col("gn") * 1.0 / F.col("g")).alias("q"),
        )
    )
    j = grid.join(cells, ["lang", "len_bucket", "source"], "left").select(
        "lang",
        "len_bucket",
        "n_docs",
        (F.coalesce("n", F.lit(0)) * 1.0 / F.col("n_docs")).alias("p"),
        "q",
    )
    tv = 0.5 * F.sum(F.abs(F.col("p") - F.col("q")))
    return j.groupBy("lang", "len_bucket", "n_docs").agg(
        F.round(tv, 6).alias("tv_distance"),
        (tv > _TCLOSE_T).cast("int").alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Leakage-free target encoding: the feature-engineering workhorse.
# ---------------------------------------------------------------------------

_TE_FOLDS = 5


@register(
    "target_encoding_kfold",
    oracle=f"""
        WITH rows_ AS (
            SELECT o_orderpriority AS key,
                   CAST((((o_orderkey % {_MOD}) * {_KNUTH}) >> 16)
                        % {_TE_FOLDS} AS BIGINT) AS fold,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders
        ),
        kf AS (
            SELECT key, fold,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM rows_ GROUP BY key, fold
        )
        SELECT key, fold, n_rows,
               ROUND((SUM(sum_cents) OVER (PARTITION BY key) - sum_cents)
                     * 1.0
                     / NULLIF(SUM(n_rows) OVER (PARTITION BY key) - n_rows,
                              0), 4) AS oof_mean_cents
        FROM kf
    """,
    doc=(
        "OUT-OF-FOLD TARGET ENCODING of a categorical key (order "
        "priority) against a numeric target (order value in exact "
        f"cents), {_TE_FOLDS} deterministic Knuth-hash folds: the "
        "encoding a row sees is the target mean computed WITHOUT its own "
        "fold — (sum_key - sum_fold)/(n_key - n_fold) — the standard "
        "leakage-free construction (naive target encoding leaks the "
        "row's own label into its feature and inflates validation "
        "scores; cv_fold_leakage_audit measures the disease, this is "
        "the cure on the feature side). Plan: ONE hash aggregate to "
        "(key, fold) grain, then key-partitioned windows over that "
        f"(|keys| x {_TE_FOLDS} rows, each partition {_TE_FOLDS} rows — "
        "bounded by the fold count) subtract each fold out of its key "
        "total: one scan, no join, no per-fold passes. Targets sum as "
        "exact bigint cents so the only float op is the final division, "
        "rounded at 4dp on both engines. At 100 TB this shape is one "
        "shuffle of (key, fold) partials."
    ),
    tags=("evals", "llm", "feature-engineering", "sampling"),
)
def target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rows_ = o.select(
        F.col("o_orderpriority").alias("key"),
        (
            F.shiftright((F.col("o_orderkey") % _MOD) * F.lit(_KNUTH), 16)
            % _TE_FOLDS
        )
        .cast("bigint")
        .alias("fold"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    kf = rows_.groupBy("key", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    # fold-count-bounded partitions (5 rows per key): the complement
    # subtraction needs no join and orders is scanned exactly once
    w_key = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return kf.select(
        "key",
        "fold",
        "n_rows",
        F.round(
            (F.sum("sum_cents").over(w_key) - F.col("sum_cents"))
            * 1.0
            / F.nullif(
                F.sum("n_rows").over(w_key) - F.col("n_rows"), F.lit(0)
            ),
            4,
        ).alias("oof_mean_cents"),
    )


# ---------------------------------------------------------------------------
# WOE / IV binning: score explainability next to AUC and ECE.
# ---------------------------------------------------------------------------

_WOE_SMOOTH = 0.5  # Laplace count added per bin and class


@register(
    "woe_iv_binning",
    oracle=f"""
        WITH {_SCORE_CTE},
        binned AS (
            SELECT LEAST(CAST(FLOOR(score * {_N_CAL_BINS}) AS BIGINT),
                         {_N_CAL_BINS - 1}) AS bin,
                   label
            FROM scored
        ),
        per_bin AS (
            SELECT bin,
                   CAST(SUM(label) AS BIGINT) AS n_good,
                   CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_bad
            FROM binned GROUP BY bin
        ),
        tot AS (
            SELECT SUM(n_good) AS gt, SUM(n_bad) AS bt,
                   COUNT(*) AS n_bins
            FROM per_bin
        )
        SELECT bin, n_good, n_bad,
               ROUND(ln(((n_good + {_WOE_SMOOTH})
                         / (t.gt + {_WOE_SMOOTH} * t.n_bins))
                        / ((n_bad + {_WOE_SMOOTH})
                           / (t.bt + {_WOE_SMOOTH} * t.n_bins))), 6) AS woe,
               ROUND(((n_good + {_WOE_SMOOTH})
                      / (t.gt + {_WOE_SMOOTH} * t.n_bins)
                      - (n_bad + {_WOE_SMOOTH})
                        / (t.bt + {_WOE_SMOOTH} * t.n_bins))
                     * ln(((n_good + {_WOE_SMOOTH})
                           / (t.gt + {_WOE_SMOOTH} * t.n_bins))
                          / ((n_bad + {_WOE_SMOOTH})
                             / (t.bt + {_WOE_SMOOTH} * t.n_bins))), 6)
                   AS iv_contrib
        FROM per_bin CROSS JOIN tot t
    """,
    doc=(
        "WEIGHT-OF-EVIDENCE / INFORMATION-VALUE BINNING of the quality "
        f"score against the label, {_N_CAL_BINS} bins with Laplace "
        f"smoothing {_WOE_SMOOTH} (so an empty class in a bin yields a "
        "large-but-finite WOE instead of ±inf): per bin WOE = "
        "ln(goods-share / bads-share) and its IV contribution "
        "(g-b)*WOE — the credit-scoring-lineage explainability summary "
        "that tells you WHERE a score separates the classes (AUC says "
        "how much overall, ECE says whether it's calibrated, WOE says "
        "which score ranges do the work; sum(iv_contrib) > 0.3 reads "
        "'strong predictor'). Plan: one scan, one hash aggregate to the "
        f"{_N_CAL_BINS}-row bin table, a 1-row totals broadcast; shares "
        "difference exact bigint counts so the 6-dp WOE is "
        "engine-stable."
    ),
    tags=("evals", "llm", "statistics"),
)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    binned = s.select(
        F.least(
            F.floor(F.col("score") * _N_CAL_BINS).cast("bigint"),
            F.lit(_N_CAL_BINS - 1),
        ).alias("bin"),
        "label",
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("label").cast("bigint").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("n_bad"),
    )
    tot = per_bin.agg(
        F.sum("n_good").alias("gt"),
        F.sum("n_bad").alias("bt"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    g_share = (F.col("n_good") + _WOE_SMOOTH) / (
        F.col("gt") + _WOE_SMOOTH * F.col("n_bins")
    )
    b_share = (F.col("n_bad") + _WOE_SMOOTH) / (
        F.col("bt") + _WOE_SMOOTH * F.col("n_bins")
    )
    woe = F.log(g_share / b_share)
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_good",
        "n_bad",
        F.round(woe, 6).alias("woe"),
        F.round((g_share - b_share) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# Broadcast-join advisor: the last member of the physical-advice family.
# ---------------------------------------------------------------------------

# (table, fixed bytes per row, varchar columns, array columns as
# (col, elem_bytes)) — in-memory width model, generated into BOTH engines
_BCAST_SPEC = (
    ("region", 4, ("r_name",), ()),
    ("nation", 8, ("n_name",), ()),
    ("customer", 20, ("c_name", "c_mktsegment"), ()),
    ("supplier", 20, ("s_name",), ()),
    ("part", 20, ("p_name", "p_brand", "p_type"), ()),
    ("orders", 32, ("o_orderstatus", "o_orderpriority"), ()),
    ("lineitem", 76, ("l_returnflag", "l_linestatus"), ()),
    ("events", 32, ("event_type", "props"), ()),
    ("documents", 16, ("text", "lang", "source"), ()),
    ("embeddings", 12, (), (("embedding", 4),)),
)
_BCAST_THRESHOLD = 10 * 1024 * 1024  # spark.sql.autoBroadcastJoinThreshold


def _bcast_oracle() -> str:
    parts = []
    for table, fixed, strs, arrs in _BCAST_SPEC:
        width = str(fixed)
        for c in strs:
            width += f" + length({c})"
        for c, eb in arrs:
            width += f" + {eb} * len({c})"
        parts.append(
            f"""SELECT '{table}' AS table_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM({width}) AS BIGINT) AS est_bytes
            FROM {table}"""
        )
    union = "\nUNION ALL\n".join(parts)
    return f"""
        WITH sizes AS ({union})
        SELECT table_name, n_rows, est_bytes,
               CAST(est_bytes <= {_BCAST_THRESHOLD} AS INT) AS broadcastable,
               CASE WHEN est_bytes <= {_BCAST_THRESHOLD}
                    THEN 'broadcast' ELSE 'shuffle' END AS join_strategy
        FROM sizes
    """


@register(
    "broadcast_join_advisor",
    oracle=_bcast_oracle(),
    doc=(
        "BROADCAST-JOIN ADVISOR over every fixture table: estimated "
        "in-memory bytes from an explicit row-width model (fixed widths "
        "per numeric/timestamp column + measured varchar/array payload), "
        "compared against the 10 MB autoBroadcastJoinThreshold to emit "
        "the join-strategy call per table — the decision this repo's "
        "plan tests pin from the CONSUMER side (broadcast_dim_join "
        "asserts dims broadcast; this op computes WHY, from data). It "
        "completes the physical-advice family: encoding "
        "(column_encoding_advisor), partition sizing "
        "(shuffle_partition_advisor), layout pruning "
        "(minmax_pruning_audit), join strategy (this). Catalyst's own "
        "sizeInBytes estimate works from file sizes and can misjudge "
        "post-filter/post-project sizes; an explicit width model over "
        "the ACTUAL columns a join would carry is how you decide hints "
        "at 100 TB. Plan: one aggregate per table (the scans are "
        "independent and parallel; string widths need the scan anyway), "
        "10-row output, zero joins."
    ),
    tags=("evals", "layout", "profiling", "scale"),
)
def broadcast_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, fixed, strs, arrs in _BCAST_SPEC:
        t = load_table(spark, sf_dir, table)
        width = F.lit(fixed)
        for c in strs:
            width = width + F.length(c)
        for c, eb in arrs:
            width = width + eb * F.size(c)
        part = t.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(width).cast("bigint").alias("est_bytes"),
        ).select(
            F.lit(table).alias("table_name"), "n_rows", "est_bytes"
        )
        out = part if out is None else out.unionAll(part)
    return out.select(
        "table_name",
        "n_rows",
        "est_bytes",
        (F.col("est_bytes") <= _BCAST_THRESHOLD).cast("int").alias(
            "broadcastable"
        ),
        F.when(F.col("est_bytes") <= _BCAST_THRESHOLD, "broadcast")
        .otherwise("shuffle")
        .alias("join_strategy"),
    )


# ---------------------------------------------------------------------------
# Round-5k: experimentation statistics — CUPED variance reduction, Brier
# decomposition, Benjamini-Hochberg FDR over a per-source test family.
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"


@register(
    "cuped_variance_reduction",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                                  AND event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM per_user
        )
        SELECT n,
               ROUND((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                     / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)),
                     6) AS theta,
               ROUND(syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n), 6)
                   AS var_y,
               ROUND((syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))
                     - (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                       * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                       / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)),
                     6) AS var_y_cuped,
               ROUND((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                     * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                     / ((sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                        * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))),
                     6) AS var_reduction
        FROM mom
    """,
    doc=(
        "CUPED VARIANCE REDUCTION (Controlled-experiment Using Pre-"
        "Experiment Data, the Deng et al. technique every experimentation "
        "platform ships): per-user post-period metric y (purchases after "
        f"{_CUPED_SPLIT}) is adjusted by the pre-period covariate x "
        "(activity before the split) as y - theta*(x - mean(x)) with "
        "theta = cov(x,y)/var(x); the report gives theta, raw vs "
        "adjusted metric variance, and the variance-reduction fraction "
        "rho^2 = cov^2/(var_x*var_y) — which is exactly how much "
        "smaller an A/B test gets for free. Plan: ONE pass builds "
        "per-user (x, y) with conditional counts (the date predicate "
        "pushes to the scan), one moment aggregate (n, sums, cross "
        "products — all EXACT bigints since both metrics are counts), "
        "and every output is arithmetic over that 1-row moment table — "
        "identical doubles on both engines before the 6-dp round."
    ),
    tags=("evals", "experimentation", "statistics"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                (F.col("ts") >= split) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx") * F.lit(1.0) / n
    my = F.col("sy") * F.lit(1.0) / n
    cov = F.col("sxy") * F.lit(1.0) / n - mx * my
    var_x = F.col("sxx") * F.lit(1.0) / n - mx * mx
    var_y = F.col("syy") * F.lit(1.0) / n - my * my
    return mom.select(
        "n",
        F.round(cov / var_x, 6).alias("theta"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_y - cov * cov / var_x, 6).alias("var_y_cuped"),
        F.round(cov * cov / (var_x * var_y), 6).alias("var_reduction"),
    )


_BRIER_BINS = 10


@register(
    "brier_score_decomposition",
    oracle=f"""
        WITH {_SCORE_CTE},
        s4 AS (
            SELECT CAST(ROUND(score * 10000) AS BIGINT) AS p4, label,
                   LEAST(CAST(FLOOR(score * {_BRIER_BINS}) AS BIGINT),
                         {_BRIER_BINS - 1}) AS bin
            FROM scored
        ),
        per_bin AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS nk,
                   CAST(SUM(p4) AS BIGINT) AS sp,
                   CAST(SUM(p4 * p4) AS BIGINT) AS spp,
                   CAST(SUM(label) AS BIGINT) AS sy,
                   CAST(SUM(p4 * label) AS BIGINT) AS spy
            FROM s4 GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(nk) AS BIGINT) AS n,
                   CAST(SUM(sy) AS BIGINT) AS tsy,
                   CAST(SUM(spp) AS BIGINT) AS tspp,
                   CAST(SUM(spp) AS BIGINT)
                   - 20000 * CAST(SUM(spy) AS BIGINT)
                   + 100000000 * CAST(SUM(sy) AS BIGINT) AS bnum
            FROM per_bin
        )
        SELECT t.n,
               ROUND(t.bnum * 1.0 / t.n / 100000000, 6) AS brier,
               ROUND(SUM(b.nk * (b.sy * 1.0 / b.nk
                                 - b.sp * 1.0 / b.nk / 10000)
                              * (b.sy * 1.0 / b.nk
                                 - b.sp * 1.0 / b.nk / 10000)) / t.n, 6)
                   AS reliability,
               ROUND(SUM(b.nk * (b.sy * 1.0 / b.nk - t.tsy * 1.0 / t.n)
                              * (b.sy * 1.0 / b.nk - t.tsy * 1.0 / t.n))
                     / t.n, 6) AS resolution,
               ROUND((t.tsy * 1.0 / t.n) * (1.0 - t.tsy * 1.0 / t.n), 6)
                   AS uncertainty,
               ROUND(SUM(b.spp * 1.0 / 100000000
                         - b.nk * (b.sp * 1.0 / b.nk / 10000)
                                * (b.sp * 1.0 / b.nk / 10000)) / t.n, 6)
                   AS within_bin_var,
               ROUND(SUM((b.spy - b.sp * 1.0 * b.sy / b.nk) / 10000.0)
                     / t.n, 6) AS within_bin_cov
        FROM per_bin b CROSS JOIN tot t
        GROUP BY t.n, t.bnum, t.tsy
    """,
    doc=(
        "BRIER SCORE with the MURPHY DECOMPOSITION: total Brier = "
        "RELIABILITY (calibration gap per bin) - RESOLUTION (how far bin "
        "outcome rates sit from the base rate) + UNCERTAINTY (base-rate "
        "entropy) + within-bin forecast variance - 2x within-bin "
        "forecast-outcome covariance (the residuals that make the "
        "identity EXACT when forecasts vary inside bins) — the proper-"
        "scoring-rule companion to calibration_bins_ece that separates "
        "'is the score honest' from 'does the score discriminate'. "
        "Every sum is over EXACT INTEGERS: 4-dp scores lift to p*10^4 "
        "bigints, so the Brier numerator sum((p4 - 10^4*y)^2) and all "
        f"bin moments are integer arithmetic; the {_BRIER_BINS}-row bin "
        "table is the only grouped state. One corpus scan, one hash "
        "aggregate, a 1-row total, bounded-frame arithmetic after."
    ),
    tags=("evals", "llm", "statistics"),
)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    s4 = s.select(
        F.round(F.col("score") * 10000).cast("bigint").alias("p4"),
        "label",
        F.least(
            F.floor(F.col("score") * _BRIER_BINS).cast("bigint"),
            F.lit(_BRIER_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    per_bin = s4.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum("p4").cast("bigint").alias("sp"),
        F.sum(F.col("p4") * F.col("p4")).cast("bigint").alias("spp"),
        F.sum("label").cast("bigint").alias("sy"),
        F.sum(F.col("p4") * F.col("label")).cast("bigint").alias("spy"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(pb: DataFrame) -> DataFrame:
        tot = pb.agg(
            F.sum("nk").cast("bigint").alias("n"),
            F.sum("sy").cast("bigint").alias("tsy"),
            (
                F.sum("spp").cast("bigint")
                - F.lit(20000) * F.sum("spy").cast("bigint")
                + F.lit(100000000) * F.sum("sy").cast("bigint")
            ).alias("bnum"),
        )
        ybar_k = F.col("sy") * F.lit(1.0) / F.col("nk")
        pbar_k = F.col("sp") * F.lit(1.0) / F.col("nk") / F.lit(10000.0)
        ybar = F.col("tsy") * F.lit(1.0) / F.col("n")
        return (
            pb.crossJoin(F.broadcast(tot))
            .groupBy("n", "bnum", "tsy")
            .agg(
                F.round(
                    F.sum(F.col("nk") * (ybar_k - pbar_k) * (ybar_k - pbar_k))
                    / F.col("n"),
                    6,
                ).alias("reliability"),
                F.round(
                    F.sum(F.col("nk") * (ybar_k - ybar) * (ybar_k - ybar))
                    / F.col("n"),
                    6,
                ).alias("resolution"),
                F.round(
                    F.sum(
                        F.col("spp") * F.lit(1.0) / F.lit(100000000.0)
                        - F.col("nk") * pbar_k * pbar_k
                    )
                    / F.col("n"),
                    6,
                ).alias("within_bin_var"),
                F.round(
                    F.sum(
                        (
                            F.col("spy")
                            - F.col("sp") * F.lit(1.0) * F.col("sy") / F.col("nk")
                        )
                        / F.lit(10000.0)
                    )
                    / F.col("n"),
                    6,
                ).alias("within_bin_cov"),
            )
            .select(
                "n",
                F.round(
                    F.col("bnum") * F.lit(1.0) / F.col("n") / F.lit(100000000.0), 6
                ).alias("brier"),
                "reliability",
                "resolution",
                F.round(
                    (F.col("tsy") * F.lit(1.0) / F.col("n"))
                    * (F.lit(1.0) - F.col("tsy") * F.lit(1.0) / F.col("n")),
                    6,
                ).alias("uncertainty"),
                "within_bin_var",
                "within_bin_cov",
            )
        )

    return persisted_result(per_bin, build)


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over a per-source Welch test family.
# ---------------------------------------------------------------------------

# Abramowitz-Stegun 26.2.17 tail polynomial (shared convention with
# mann_whitney_u_test in sampling.py): a literal both engines evaluate
# identically, since neither ships erf.
_FDR_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_FDR_AS_P = 0.2316419
_FDR_ALPHA = 0.05


def _fdr_sf_sql(z: str) -> str:
    t = f"(1.0 / (1.0 + {_FDR_AS_P} * {z}))"
    poly = (
        f"({t} * ({_FDR_AS_B[0]} + {t} * ({_FDR_AS_B[1]} + {t} * ({_FDR_AS_B[2]}"
        f" + {t} * ({_FDR_AS_B[3]} + {t} * {_FDR_AS_B[4]})))))"
    )
    return f"(exp(-({z}) * ({z}) / 2.0) / sqrt(2.0 * pi()) * {poly})"


@register(
    "bh_fdr_correction",
    oracle=f"""
        WITH mom AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS ns,
                   CAST(SUM(n_chars) AS BIGINT) AS ss,
                   CAST(SUM(n_chars * n_chars) AS BIGINT) AS sss
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(ns) AS BIGINT) AS n,
                   CAST(SUM(ss) AS BIGINT) AS s,
                   CAST(SUM(sss) AS BIGINT) AS sq,
                   CAST(COUNT(*) AS BIGINT) AS m
            FROM mom
        ),
        tests AS (
            SELECT source, ns, m, mean_chars, z FROM (
                SELECT mom.source, mom.ns, t.m,
                       ROUND(mom.ss * 1.0 / mom.ns, 2) AS mean_chars,
                       (mom.ss * 1.0 / mom.ns
                        - (t.s - mom.ss) * 1.0 / (t.n - mom.ns))
                       / sqrt(
                           ((mom.sss * 1.0 / mom.ns
                             - (mom.ss * 1.0 / mom.ns)
                               * (mom.ss * 1.0 / mom.ns))
                            * mom.ns / (mom.ns - 1.0)) / mom.ns
                           + (((t.sq - mom.sss) * 1.0 / (t.n - mom.ns)
                               - ((t.s - mom.ss) * 1.0 / (t.n - mom.ns))
                                 * ((t.s - mom.ss) * 1.0 / (t.n - mom.ns)))
                              * (t.n - mom.ns)
                              / ((t.n - mom.ns) - 1.0)) / (t.n - mom.ns)
                         ) AS z
                FROM mom CROSS JOIN tot t
            )
        ),
        pvals AS (
            SELECT source, ns, m, mean_chars,
                   ROUND(z, 6) AS z_score,
                   2.0 * {_fdr_sf_sql("abs(z)")} AS p,
                   ROW_NUMBER() OVER (
                       ORDER BY 2.0 * {_fdr_sf_sql("abs(z)")} ASC, source ASC
                   ) AS rnk
            FROM tests
        ),
        adj AS (
            SELECT source, ns, mean_chars, z_score, p, rnk,
                   LEAST(MIN(p * m / rnk) OVER (
                       ORDER BY rnk DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 1.0) AS p_adj
            FROM pvals
        )
        SELECT source, ns AS n_docs, mean_chars, z_score,
               ROUND(p, 6) AS p_value,
               ROUND(p_adj, 6) AS p_adj,
               p_adj < {_FDR_ALPHA} AS significant
        FROM adj
    """,
    doc=(
        "BENJAMINI-HOCHBERG FDR CORRECTION over a per-source test "
        "family: each source's mean document length is Welch-z-tested "
        "against the REST of the corpus (complement moments come from "
        "total-minus-source, so the corpus scans ONCE), p-values from "
        "the shared Abramowitz-Stegun tail literal, then the BH "
        "step-up adjustment p_adj(i) = min_{{j>=i}} p(j)*m/j as a "
        "reverse cumulative-min window over the |sources|-row p-value "
        "grid (bounded by the source domain) — the multiple-testing "
        "discipline any per-segment anomaly report needs before "
        "flagging 'significant' segments (20 tests at alpha=.05 expect "
        "one false positive; BH caps the false-discovery RATE instead). "
        "Moments are exact bigints; each z is one arithmetic expression "
        "over them. Output: per source, mean, z, raw p, adjusted p, "
        f"and the alpha={_FDR_ALPHA} significance call."
    ),
    tags=("evals", "experimentation", "statistics", "quality"),
)
def bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("n_chars").cast("bigint").alias("ss"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sss"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(mom_c: DataFrame) -> DataFrame:
        tot = mom_c.agg(
            F.sum("ns").cast("bigint").alias("n"),
            F.sum("ss").cast("bigint").alias("s"),
            F.sum("sss").cast("bigint").alias("sq"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
        j = mom_c.crossJoin(F.broadcast(tot))
        mean_s = F.col("ss") * F.lit(1.0) / F.col("ns")
        nr = F.col("n") - F.col("ns")
        mean_r = (F.col("s") - F.col("ss")) * F.lit(1.0) / nr
        # sample variances via the same exact-moment expressions as SQL
        var_s = (
            (F.col("sss") * F.lit(1.0) / F.col("ns") - mean_s * mean_s)
            * F.col("ns")
            / (F.col("ns") - F.lit(1.0))
        )
        var_r = (
            ((F.col("sq") - F.col("sss")) * F.lit(1.0) / nr - mean_r * mean_r)
            * nr
            / (nr - F.lit(1.0))
        )
        z = (mean_s - mean_r) / F.sqrt(
            var_s / F.col("ns") + var_r / nr
        )
        az = F.abs(z)
        t = F.lit(1.0) / (F.lit(1.0) + F.lit(_FDR_AS_P) * az)
        poly = t * (
            F.lit(_FDR_AS_B[0])
            + t
            * (
                F.lit(_FDR_AS_B[1])
                + t
                * (
                    F.lit(_FDR_AS_B[2])
                    + t * (F.lit(_FDR_AS_B[3]) + t * F.lit(_FDR_AS_B[4]))
                )
            )
        )
        p = (
            F.lit(2.0)
            * F.exp(-az * az / F.lit(2.0))
            / F.sqrt(F.lit(2.0) * F.lit(math.pi))
            * poly
        )
        w_rank = Window.orderBy(F.asc("p"), F.asc("source"))  # |sources| rows
        pvals = j.select(
            "source",
            "ns",
            "m",
            F.round(mean_s, 2).alias("mean_chars"),
            F.round(z, 6).alias("z_score"),
            p.alias("p"),
        ).withColumn("rnk", F.row_number().over(w_rank))
        w_rev = Window.orderBy(F.desc("rnk")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        adj = pvals.withColumn(
            "p_adj",
            F.least(
                F.min(F.col("p") * F.col("m") / F.col("rnk")).over(w_rev),
                F.lit(1.0),
            ),
        )
        return adj.select(
            "source",
            F.col("ns").alias("n_docs"),
            "mean_chars",
            "z_score",
            F.round("p", 6).alias("p_value"),
            F.round("p_adj", 6).alias("p_adj"),
            (F.col("p_adj") < _FDR_ALPHA).alias("significant"),
        )

    return persisted_result(mom, build)


# ---------------------------------------------------------------------------
# Join-order advisor (round-5m): exact intermediate cardinalities for the
# candidate orders of a filtered 3-table join — the CBO decision, measured.
# ---------------------------------------------------------------------------

_JOA_LO = "1995-01-01"
_JOA_HI = "1996-01-01"


@register(
    "join_order_advisor",
    oracle=f"""
        WITH f AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_f_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{_JOA_LO}'
              AND o_orderdate < TIMESTAMP '{_JOA_HI}'
        ),
        ol AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_ol
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '{_JOA_LO}'
              AND o.o_orderdate < TIMESTAMP '{_JOA_HI}'
        ),
        plans AS (
            SELECT 'orders_lineitem_first' AS plan,
                   ol.n_ol AS intermediate_rows, ol.n_ol AS final_rows
            FROM ol
            UNION ALL
            SELECT 'orders_customer_first' AS plan,
                   f.n_f_orders AS intermediate_rows, ol.n_ol AS final_rows
            FROM f CROSS JOIN ol
        )
        SELECT plan, intermediate_rows, final_rows,
               intermediate_rows = MIN(intermediate_rows) OVER ()
                   AS recommended
        FROM plans
    """,
    doc=(
        "JOIN-ORDER ADVISOR for the filtered customer x orders x "
        "lineitem 3-table join: the two candidate orders differ only in "
        "their FIRST intermediate — joining filtered orders to lineitem "
        "first materializes every matching line (|sigma(O) join L|), "
        "joining to customer first materializes one row per filtered "
        "order (PK-FK, so |sigma(O)|) — and the advisor measures BOTH "
        "cardinalities EXACTLY with two count aggregates (no join "
        "output is ever materialized; counting |sigma(O) join L| is a "
        "broadcast-filter semi-join count) and recommends the smaller. "
        "This is the measured version of the cost-based-optimizer "
        "decision: at 100 TB picking the wrong first join multiplies "
        "shuffle bytes by lines-per-order (~4x here). Complements the "
        "broadcast/partition/encoding advisors with the join-ORDER "
        "dimension; the final cardinality (identical either way — join "
        "order never changes the result) rides along as the sanity row."
    ),
    tags=("evals", "advisor", "planner"),
)
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fo = o.filter(
        (F.col("o_orderdate") >= F.lit(_JOA_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_JOA_HI).cast("timestamp"))
    )
    f = fo.agg(F.count(F.lit(1)).cast("bigint").alias("n_f_orders"))
    ol = (
        li.join(fo.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ol"))
    )
    plan_a = ol.select(
        F.lit("orders_lineitem_first").alias("plan"),
        F.col("n_ol").alias("intermediate_rows"),
        F.col("n_ol").alias("final_rows"),
    )
    plan_b = f.crossJoin(ol).select(
        F.lit("orders_customer_first").alias("plan"),
        F.col("n_f_orders").alias("intermediate_rows"),
        F.col("n_ol").alias("final_rows"),
    )
    plans = plan_a.unionAll(plan_b)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )  # 2-row frame
    return plans.select(
        "plan",
        "intermediate_rows",
        "final_rows",
        (F.col("intermediate_rows") == F.min("intermediate_rows").over(w_all)).alias(
            "recommended"
        ),
    )


# ---------------------------------------------------------------------------
# V-optimal histogram (round-5q): the variance-minimal bucket boundaries
# CBO statistics actually want, via bounded-grid dynamic programming.
# ---------------------------------------------------------------------------

_VOPT_BUCKETS = 8


def _v_optimal_dp(
    grid: list[tuple[int, int]], b: int
) -> list[tuple[int, int]]:
    """Boundaries minimizing total within-bucket weighted SSE of the
    value grid [(value, count)] split into <= b contiguous buckets.
    O(G^2 * b) DP on the bounded grid; returns [(start_idx, end_idx)]."""
    g = len(grid)
    # prefix sums for O(1) segment SSE: sum w, sum w*v, sum w*v^2
    pw = [0.0] * (g + 1)
    pwv = [0.0] * (g + 1)
    pwv2 = [0.0] * (g + 1)
    for i, (v, c) in enumerate(grid):
        pw[i + 1] = pw[i] + c
        pwv[i + 1] = pwv[i] + c * v
        pwv2[i + 1] = pwv2[i] + c * v * v

    def sse(i: int, j: int) -> float:  # grid[i..j] inclusive
        w = pw[j + 1] - pw[i]
        s = pwv[j + 1] - pwv[i]
        s2 = pwv2[j + 1] - pwv2[i]
        return s2 - s * s / w

    INF = float("inf")
    best = [[INF] * (b + 1) for _ in range(g + 1)]
    cut = [[-1] * (b + 1) for _ in range(g + 1)]
    best[0][0] = 0.0
    for j in range(1, g + 1):
        for k in range(1, min(b, j) + 1):
            for i in range(k - 1, j):
                cand = best[i][k - 1] + sse(i, j - 1)
                if cand < best[j][k]:
                    best[j][k] = cand
                    cut[j][k] = i
    # walk back from the best bucket count <= b (fewer buckets never
    # beat more, but guard grids smaller than b)
    k = min(b, g)
    bounds = []
    j = g
    while k > 0:
        i = cut[j][k]
        bounds.append((i, j - 1))
        j, k = i, k - 1
    return list(reversed(bounds))


@register(
    "v_optimal_histogram",
    oracle=None,  # the DP is a sequential optimization; pytest verifies
    # optimality against exhaustive boundary enumeration on a reduced
    # bucket count plus exact SSE accounting (tests/test_labeling.py)
    doc=(
        f"V-OPTIMAL HISTOGRAM ({_VOPT_BUCKETS} buckets) of the document "
        "length distribution: bucket boundaries chosen to MINIMIZE "
        "total within-bucket weighted variance (Jagadish et al.) — the "
        "histogram class cost-based optimizers prefer over equi-width/"
        "equi-depth because estimation error concentrates where the "
        "distribution actually bends. The distributed work is ONE hash "
        "aggregate to the (value, count) grid — bounded by the "
        "quantized value domain, not row count — then the O(G^2*B) DP "
        "runs driver-side on that bounded grid (PQ-codebook collect "
        "class) with exact prefix-sum segment SSE. Output: per bucket, "
        "the [lo, hi] value range, row count, mean, SSE, plus the "
        "equi-width SSE on the same grid so the optimality GAIN is "
        "part of the result. Rows-only (sequential DP); pytest proves "
        "optimality by exhaustive boundary search at a reduced B."
    ),
    tags=("evals", "advisor", "planner", "statistics", "iterative"),
)
def v_optimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents")
    grid_df = (
        docs.groupBy(F.col("n_chars").cast("bigint").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy("v")
    )
    grid = [(int(r.v), int(r.c)) for r in grid_df.collect()]  # bounded domain
    bounds = _v_optimal_dp(grid, _VOPT_BUCKETS)

    def seg_stats(i: int, j: int):
        w = sum(c for _, c in grid[i : j + 1])
        s = sum(c * v for v, c in grid[i : j + 1])
        s2 = sum(c * v * v for v, c in grid[i : j + 1])
        return w, s / w, s2 - s * s / w

    # equi-width reference on the same grid
    lo_v, hi_v = grid[0][0], grid[-1][0]
    width = (hi_v - lo_v + _VOPT_BUCKETS) // _VOPT_BUCKETS
    ew_sse = 0.0
    for b in range(_VOPT_BUCKETS):
        seg = [
            (v, c)
            for v, c in grid
            if lo_v + b * width <= v < lo_v + (b + 1) * width or (
                b == _VOPT_BUCKETS - 1 and v >= lo_v + b * width
            )
        ]
        if not seg:
            continue
        w = sum(c for _, c in seg)
        s = sum(c * v for v, c in seg)
        s2 = sum(c * v * v for v, c in seg)
        ew_sse += s2 - s * s / w
    out = []
    for bi, (i, j) in enumerate(bounds):
        w, mean, sse = seg_stats(i, j)
        out.append(
            (
                bi,
                grid[i][0],
                grid[j][0],
                w,
                round(mean, 4),
                round(sse, 4),
                round(ew_sse, 4),
            )
        )
    schema = StructType(
        [
            StructField("bucket", IntegerType(), False),
            StructField("lo", LongType(), False),
            StructField("hi", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("mean_val", DoubleType(), False),
            StructField("sse", DoubleType(), False),
            StructField("equi_width_sse", DoubleType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Qini uplift curve (round-5r): targeting evaluation for the experiment.
# ---------------------------------------------------------------------------

_QINI_DECILES = 10


@register(
    "qini_curve_deciles",
    oracle=f"""
        WITH users AS (
            SELECT user_id,
                   {_ARM_SQL} AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                             >= {_CONV_SHARE}
                        THEN 1 ELSE 0 END AS converted,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                            END) AS BIGINT) AS score
            FROM events GROUP BY user_id
        ),
        grid AS (
            SELECT score,
                   CAST(SUM(arm) AS BIGINT) AS tn,
                   CAST(SUM(arm * converted) AS BIGINT) AS tp,
                   CAST(SUM(1 - arm) AS BIGINT) AS cn,
                   CAST(SUM((1 - arm) * converted) AS BIGINT) AS cp
            FROM users GROUP BY score
        ),
        run AS (
            SELECT tn, tp, cn, cp,
                   CAST(SUM(tn + cn) OVER wd AS BIGINT) AS cum_pop,
                   CAST(SUM(tn + cn) OVER wd AS BIGINT) - tn - cn AS pop_b,
                   CAST(SUM(tn) OVER wd AS BIGINT) - tn AS tn_b,
                   CAST(SUM(tp) OVER wd AS BIGINT) - tp AS tp_b,
                   CAST(SUM(cn) OVER wd AS BIGINT) - cn AS cn_b,
                   CAST(SUM(cp) OVER wd AS BIGINT) - cp AS cp_b,
                   CAST(SUM(tn + cn) OVER () AS BIGINT) AS n,
                   SUM(tp) OVER () - SUM(cp) OVER ()
                       * (SUM(tn) OVER () * 1.0 / SUM(cn) OVER ())
                       AS qini_total
            FROM grid
            WINDOW wd AS (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        deciles AS (
            SELECT unnest(generate_series(1, {_QINI_DECILES})) AS d
        ),
        hit AS (
            SELECT d, n, qini_total,
                   CAST(FLOOR((r.n * d + {_QINI_DECILES - 1})
                              / {_QINI_DECILES}.0) AS BIGINT) AS cutoff_rows,
                   (CAST(FLOOR((r.n * d + {_QINI_DECILES - 1})
                               / {_QINI_DECILES}.0) AS BIGINT) - r.pop_b)
                       * 1.0 / (r.cum_pop - r.pop_b) AS frac,
                   r.tn_b, r.tp_b, r.cn_b, r.cp_b, r.tn, r.tp, r.cn, r.cp
            FROM deciles CROSS JOIN run r
            WHERE r.pop_b < CAST(FLOOR((r.n * d + {_QINI_DECILES - 1})
                                       / {_QINI_DECILES}.0) AS BIGINT)
              AND r.cum_pop >= CAST(FLOOR((r.n * d + {_QINI_DECILES - 1})
                                          / {_QINI_DECILES}.0) AS BIGINT)
        )
        SELECT CAST(d AS BIGINT) AS decile, cutoff_rows,
               ROUND(tn_b + tn * frac, 6) AS t_n,
               ROUND(tp_b + tp * frac, 6) AS t_pos,
               ROUND(cn_b + cn * frac, 6) AS c_n,
               ROUND(cp_b + cp * frac, 6) AS c_pos,
               ROUND((tp_b + tp * frac)
                     - (cp_b + cp * frac)
                       * ((tn_b + tn * frac) / (cn_b + cn * frac)), 6)
                   AS qini,
               ROUND(cutoff_rows * 1.0 / n * qini_total, 6) AS qini_random
        FROM hit
    """,
    doc=(
        "QINI UPLIFT CURVE of a targeting score (pre-period click "
        "activity) against the deterministic-arm experiment: per "
        "population decile ranked by score, the incremental conversions "
        "treatment earned over the control's rate-scaled expectation, "
        "qini(d) = TP(d) - CP(d)*(TN(d)/CN(d)) — THE evaluation for "
        "'whom should we target' models, next to ab_conversion_lift "
        "(did it work on average) and cuped_variance_reduction (how "
        "cheaply can we measure it). Same bounded-grid mechanics as "
        "cumulative_gains_deciles: one hash aggregate to per-user "
        "(arm, converted, score), one to the DISTINCT-SCORE grid "
        "carrying 2x2 arm/outcome counters, cumulative windows over "
        "that grid only, and each decile boundary range-joins to its "
        "containing block with FRACTIONAL attribution applied to all "
        "four counters (uniform-within-ties, deterministic integer-"
        "derived arithmetic). The diagonal random-targeting baseline "
        "rides along so the plotted lift above diagonal is in-row."
    ),
    tags=("evals", "experimentation", "statistics", "llm"),
)
def qini_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        _arm(F.col("user_id")).alias("arm"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
    )
    grid = users.groupBy("score").agg(
        F.sum("arm").cast("bigint").alias("tn"),
        F.sum(F.col("arm") * F.col("converted")).cast("bigint").alias("tp"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("cn"),
        F.sum((1 - F.col("arm")) * F.col("converted")).cast("bigint").alias("cp"),
    )
    wd = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pop = F.col("tn") + F.col("cn")
    run = grid.select(
        "tn",
        "tp",
        "cn",
        "cp",
        F.sum(pop).over(wd).cast("bigint").alias("cum_pop"),
        (F.sum(pop).over(wd).cast("bigint") - pop).alias("pop_b"),
        (F.sum("tn").over(wd).cast("bigint") - F.col("tn")).alias("tn_b"),
        (F.sum("tp").over(wd).cast("bigint") - F.col("tp")).alias("tp_b"),
        (F.sum("cn").over(wd).cast("bigint") - F.col("cn")).alias("cn_b"),
        (F.sum("cp").over(wd).cast("bigint") - F.col("cp")).alias("cp_b"),
        F.sum(pop).over(w_all).cast("bigint").alias("n"),
        (
            F.sum("tp").over(w_all)
            - F.sum("cp").over(w_all)
            * (F.sum("tn").over(w_all) * F.lit(1.0) / F.sum("cn").over(w_all))
        ).alias("qini_total"),
    )
    deciles = spark.range(1, _QINI_DECILES + 1).select(F.col("id").alias("d"))
    cutoff = F.floor(
        (F.col("n") * F.col("d") + (_QINI_DECILES - 1)) / float(_QINI_DECILES)
    ).cast("bigint")
    bound = deciles.crossJoin(run).withColumn("cutoff_rows", cutoff)
    hit = bound.filter(
        (F.col("pop_b") < F.col("cutoff_rows"))
        & (F.col("cum_pop") >= F.col("cutoff_rows"))
    )
    frac = (F.col("cutoff_rows") - F.col("pop_b")) * F.lit(1.0) / (
        F.col("cum_pop") - F.col("pop_b")
    )
    t_n = F.col("tn_b") + F.col("tn") * frac
    t_p = F.col("tp_b") + F.col("tp") * frac
    c_n = F.col("cn_b") + F.col("cn") * frac
    c_p = F.col("cp_b") + F.col("cp") * frac
    return hit.select(
        F.col("d").cast("bigint").alias("decile"),
        "cutoff_rows",
        F.round(t_n, 6).alias("t_n"),
        F.round(t_p, 6).alias("t_pos"),
        F.round(c_n, 6).alias("c_n"),
        F.round(c_p, 6).alias("c_pos"),
        F.round(t_p - c_p * (t_n / c_n), 6).alias("qini"),
        F.round(
            F.col("cutoff_rows") * F.lit(1.0) / F.col("n") * F.col("qini_total"),
            6,
        ).alias("qini_random"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (round-5s): the quasi-experimental estimator
# with its parallel-trends diagnostic in the same pass.
# ---------------------------------------------------------------------------

_DID_SPLIT = "2024-01-16"


@register(
    "diff_in_diff_estimator",
    oracle=f"""
        WITH base AS (
            SELECT user_id,
                   {_ARM_SQL} AS arm,
                   CASE WHEN ts >= TIMESTAMP '{_DID_SPLIT}' THEN 1 ELSE 0
                        END AS post,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01',
                                  date_trunc('day', ts)) AS BIGINT) AS day
            FROM events
        ),
        cell AS (
            SELECT arm, post,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(y) AS BIGINT) AS n_purch
            FROM base GROUP BY arm, post
        ),
        trend AS (
            -- pre-period per-arm OLS slope of daily purchase rate vs day
            SELECT arm,
                   (SUM(1.0 * day * rate) / COUNT(*)
                    - (SUM(1.0 * day) / COUNT(*))
                      * (SUM(rate) / COUNT(*)))
                   / (SUM(1.0 * day * day) / COUNT(*)
                      - (SUM(1.0 * day) / COUNT(*))
                        * (SUM(1.0 * day) / COUNT(*))) AS slope
            FROM (
                SELECT arm, day,
                       SUM(y) * 1.0 / COUNT(*) AS rate
                FROM base WHERE post = 0
                GROUP BY arm, day
            )
            GROUP BY arm
        )
        SELECT
            MAX(CASE WHEN arm = 1 AND post = 1
                     THEN n_purch * 1.0 / n_events END)
            - MAX(CASE WHEN arm = 1 AND post = 0
                       THEN n_purch * 1.0 / n_events END)
            - (MAX(CASE WHEN arm = 0 AND post = 1
                        THEN n_purch * 1.0 / n_events END)
               - MAX(CASE WHEN arm = 0 AND post = 0
                          THEN n_purch * 1.0 / n_events END)) IS NOT NULL
                AS _chk,
            ROUND(MAX(CASE WHEN arm = 1 AND post = 0
                           THEN n_purch * 1.0 / n_events END), 6)
                AS treat_pre,
            ROUND(MAX(CASE WHEN arm = 1 AND post = 1
                           THEN n_purch * 1.0 / n_events END), 6)
                AS treat_post,
            ROUND(MAX(CASE WHEN arm = 0 AND post = 0
                           THEN n_purch * 1.0 / n_events END), 6)
                AS ctrl_pre,
            ROUND(MAX(CASE WHEN arm = 0 AND post = 1
                           THEN n_purch * 1.0 / n_events END), 6)
                AS ctrl_post,
            ROUND(MAX(CASE WHEN arm = 1 AND post = 1
                           THEN n_purch * 1.0 / n_events END)
                  - MAX(CASE WHEN arm = 1 AND post = 0
                             THEN n_purch * 1.0 / n_events END)
                  - (MAX(CASE WHEN arm = 0 AND post = 1
                              THEN n_purch * 1.0 / n_events END)
                     - MAX(CASE WHEN arm = 0 AND post = 0
                                THEN n_purch * 1.0 / n_events END)), 6)
                AS did_estimate,
            ROUND((SELECT MAX(CASE WHEN arm = 1 THEN slope END)
                          - MAX(CASE WHEN arm = 0 THEN slope END)
                   FROM trend), 8) AS pre_trend_gap
        FROM cell
    """,
    doc=(
        "DIFFERENCE-IN-DIFFERENCES estimator with its parallel-trends "
        "diagnostic: the 2x2 (arm x pre/post) purchase-rate table, the "
        "DiD estimate (T_post - T_pre) - (C_post - C_pre), and — in "
        "the SAME pass — the pre-period per-arm OLS slope gap of daily "
        "purchase rates, the falsifiable assumption check every DiD "
        "write-up must show (a nonzero pre-trend gap means the "
        "counterfactual subtraction is biased). Arms are the "
        "deterministic Knuth-hash assignment shared with "
        "ab_conversion_lift; the period split matches CUPED's. Plan: "
        "one projection, a 4-cell hash aggregate, and a per-(arm, day) "
        "aggregate feeding a closed-form 2-group OLS — moments are "
        "exact integer sums until the final divisions, so the hash is "
        "exact. (The internal _chk boolean pins that all four cells "
        "exist — a missing cell would silently NULL the estimate.)"
    ),
    tags=("evals", "experimentation", "statistics"),
)
def diff_in_diff_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_DID_SPLIT).cast("timestamp")
    base = ev.select(
        _arm(F.col("user_id")).alias("arm"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("post"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("timestamp")
        )
        .cast("bigint")
        .alias("day"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(base_c: DataFrame) -> DataFrame:
        cell = base_c.groupBy("arm", "post").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("y").cast("bigint").alias("n_purch"),
        )
        daily = (
            base_c.filter(F.col("post") == 0)
            .groupBy("arm", "day")
            .agg((F.sum("y") * F.lit(1.0) / F.count(F.lit(1))).alias("rate"))
        )
        nd = F.count(F.lit(1))
        trend = daily.groupBy("arm").agg(
            (
                (
                    F.sum(F.lit(1.0) * F.col("day") * F.col("rate")) / nd
                    - (F.sum(F.lit(1.0) * F.col("day")) / nd)
                    * (F.sum("rate") / nd)
                )
                / (
                    F.sum(F.lit(1.0) * F.col("day") * F.col("day")) / nd
                    - (F.sum(F.lit(1.0) * F.col("day")) / nd)
                    * (F.sum(F.lit(1.0) * F.col("day")) / nd)
                )
            ).alias("slope")
        )
        rate = F.col("n_purch") * F.lit(1.0) / F.col("n_events")

        def pick(a: int, p: int):
            return F.max(
                F.when((F.col("arm") == a) & (F.col("post") == p), rate)
            )

        did = pick(1, 1) - pick(1, 0) - (pick(0, 1) - pick(0, 0))
        wide = cell.agg(
            did.isNotNull().alias("_chk"),
            F.round(pick(1, 0), 6).alias("treat_pre"),
            F.round(pick(1, 1), 6).alias("treat_post"),
            F.round(pick(0, 0), 6).alias("ctrl_pre"),
            F.round(pick(0, 1), 6).alias("ctrl_post"),
            F.round(did, 6).alias("did_estimate"),
        )
        gap = trend.agg(
            F.round(
                F.max(F.when(F.col("arm") == 1, F.col("slope")))
                - F.max(F.when(F.col("arm") == 0, F.col("slope"))),
                8,
            ).alias("pre_trend_gap")
        )
        return wide.crossJoin(gap).select(
            "_chk",
            "treat_pre",
            "treat_post",
            "ctrl_pre",
            "ctrl_post",
            "did_estimate",
            "pre_trend_gap",
        )

    return persisted_result(base, build)


# ---------------------------------------------------------------------------
# Round-5w: ratio-metric delta method + sample-ratio-mismatch guardrail.
# ---------------------------------------------------------------------------


def _as_sf_expr_sql(z: str) -> str:
    # shared A&S tail (same constants as bh_fdr_correction)
    return _fdr_sf_sql(z)


@register(
    "ratio_metric_delta_method",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id, {_ARM_SQL} AS arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                            END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        mom AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS u,
                   CAST(SUM(n) AS BIGINT) AS sn,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(n * n) AS BIGINT) AS snn,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(n * y) AS BIGINT) AS sny
            FROM per_user GROUP BY arm
        ),
        est AS (
            SELECT arm, u,
                   sy * 1.0 / sn AS r,
                   -- delta-method variance of the ratio of user sums:
                   -- (var_y + r^2 var_n - 2 r cov) / (u * nbar^2)
                   ((syy * 1.0 / u - (sy * 1.0 / u) * (sy * 1.0 / u))
                    + (sy * 1.0 / sn) * (sy * 1.0 / sn)
                      * (snn * 1.0 / u - (sn * 1.0 / u) * (sn * 1.0 / u))
                    - 2.0 * (sy * 1.0 / sn)
                      * (sny * 1.0 / u - (sn * 1.0 / u) * (sy * 1.0 / u)))
                   / (u * (sn * 1.0 / u) * (sn * 1.0 / u)) AS v
            FROM mom
        ),
        wide AS (
            SELECT MAX(CASE WHEN arm = 1 THEN r END) AS r_treat,
                   MAX(CASE WHEN arm = 0 THEN r END) AS r_ctrl,
                   MAX(CASE WHEN arm = 1 THEN v END) AS v_t,
                   MAX(CASE WHEN arm = 0 THEN v END) AS v_c,
                   CAST(SUM(u) AS BIGINT) AS n_users
            FROM est
        )
        SELECT n_users,
               ROUND(r_treat, 6) AS r_treat,
               ROUND(r_ctrl, 6) AS r_ctrl,
               ROUND(r_treat - r_ctrl, 6) AS diff,
               ROUND(sqrt(v_t + v_c), 6) AS se,
               ROUND((r_treat - r_ctrl) / sqrt(v_t + v_c), 6) AS z_score,
               ROUND(2.0 * {_as_sf_expr_sql("abs((r_treat - r_ctrl) / sqrt(v_t + v_c))")},
                     6) AS p_value
        FROM wide
    """,
    doc=(
        "RATIO-METRIC A/B TEST via the DELTA METHOD: the metric is "
        "purchases PER EVENT (a ratio of user-level sums), whose naive "
        "binomial variance is WRONG because users, not events, are the "
        "randomization unit — the classic experimentation trap. Per "
        "arm, Var(sum y / sum n) ~ (var_y + r^2 var_n - 2 r cov_yn) / "
        "(U * nbar^2) from user-level moments, then a two-arm z with "
        "the shared Abramowitz-Stegun tail. Complements "
        "ab_conversion_lift (binary metric) and cuped_variance_"
        "reduction (variance budget) with the correct inference for "
        "ratio metrics. One per-user aggregate + a 2-row arm moment "
        "table; every moment is an exact bigint, so z and p derive "
        "from bit-identical doubles."
    ),
    tags=("evals", "experimentation", "statistics"),
)
def ratio_metric_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.any_value(_arm(F.col("user_id"))).alias("arm"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    mom = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("snn"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("n") * F.col("y")).cast("bigint").alias("sny"),
    )
    u = F.col("u")
    r = F.col("sy") * F.lit(1.0) / F.col("sn")
    var_y = F.col("syy") * F.lit(1.0) / u - (F.col("sy") * F.lit(1.0) / u) * (
        F.col("sy") * F.lit(1.0) / u
    )
    var_n = F.col("snn") * F.lit(1.0) / u - (F.col("sn") * F.lit(1.0) / u) * (
        F.col("sn") * F.lit(1.0) / u
    )
    cov = F.col("sny") * F.lit(1.0) / u - (F.col("sn") * F.lit(1.0) / u) * (
        F.col("sy") * F.lit(1.0) / u
    )
    nbar = F.col("sn") * F.lit(1.0) / u
    v = (var_y + r * r * var_n - F.lit(2.0) * r * cov) / (u * nbar * nbar)
    est = mom.select("arm", "u", r.alias("r"), v.alias("v"))
    wide = est.agg(
        F.max(F.when(F.col("arm") == 1, F.col("r"))).alias("r_treat"),
        F.max(F.when(F.col("arm") == 0, F.col("r"))).alias("r_ctrl"),
        F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v_t"),
        F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v_c"),
        F.sum("u").cast("bigint").alias("n_users"),
    )
    diff = F.col("r_treat") - F.col("r_ctrl")
    se = F.sqrt(F.col("v_t") + F.col("v_c"))
    z = diff / se
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_FDR_AS_P) * az)
    poly = t * (
        F.lit(_FDR_AS_B[0])
        + t
        * (
            F.lit(_FDR_AS_B[1])
            + t * (F.lit(_FDR_AS_B[2]) + t * (F.lit(_FDR_AS_B[3]) + t * F.lit(_FDR_AS_B[4])))
        )
    )
    p = (
        F.lit(2.0)
        * F.exp(-az * az / F.lit(2.0))
        / F.sqrt(F.lit(2.0) * F.lit(math.pi))
        * poly
    )
    return wide.select(
        "n_users",
        F.round("r_treat", 6).alias("r_treat"),
        F.round("r_ctrl", 6).alias("r_ctrl"),
        F.round(diff, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z_score"),
        F.round(p, 6).alias("p_value"),
    )


@register(
    "sample_ratio_mismatch_check",
    oracle=f"""
        WITH arms AS (
            SELECT {_ARM_SQL} AS arm
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        counts AS (
            SELECT CAST(SUM(arm) AS BIGINT) AS n_treat,
                   CAST(SUM(1 - arm) AS BIGINT) AS n_ctrl,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM arms
        ),
        stat AS (
            SELECT n_treat, n_ctrl, n,
                   (n_treat - n / 2.0) * (n_treat - n / 2.0) / (n / 2.0)
                   + (n_ctrl - n / 2.0) * (n_ctrl - n / 2.0) / (n / 2.0)
                       AS chi2
            FROM counts
        )
        SELECT n_treat, n_ctrl,
               ROUND(chi2, 6) AS chi2,
               ROUND(2.0 * {_as_sf_expr_sql("sqrt(chi2)")}, 6) AS p_value,
               2.0 * {_as_sf_expr_sql("sqrt(chi2)")} < 0.001 AS srm_flag
        FROM stat
    """,
    doc=(
        "SAMPLE RATIO MISMATCH check: the observed treatment/control "
        "user split tested against the designed 50/50 with a 1-dof "
        "chi-square (p via the identity P(X1^2 > x) = 2*Phi_tail("
        "sqrt(x)), the shared A&S literal) and the industry-standard "
        "p<0.001 red flag — the guardrail run BEFORE reading any "
        "experiment metric, because a mismatched split means the "
        "assignment/logging pipeline is dropping users non-randomly "
        "and every downstream readout (lift, CUPED, DiD, Qini) is "
        "suspect. One distinct-user projection + one 1-row aggregate; "
        "counts are exact, chi2/p single expressions."
    ),
    tags=("evals", "experimentation", "statistics", "quality"),
)
def sample_ratio_mismatch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(_arm(F.col("user_id")).alias("arm"))
    counts = arms.agg(
        F.sum("arm").cast("bigint").alias("n_treat"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n_ctrl"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    half = F.col("n") / F.lit(2.0)
    chi2 = (F.col("n_treat") - half) * (F.col("n_treat") - half) / half + (
        F.col("n_ctrl") - half
    ) * (F.col("n_ctrl") - half) / half
    stat = counts.select("n_treat", "n_ctrl", chi2.alias("chi2"))
    az = F.sqrt(F.col("chi2"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_FDR_AS_P) * az)
    poly = t * (
        F.lit(_FDR_AS_B[0])
        + t
        * (
            F.lit(_FDR_AS_B[1])
            + t * (F.lit(_FDR_AS_B[2]) + t * (F.lit(_FDR_AS_B[3]) + t * F.lit(_FDR_AS_B[4])))
        )
    )
    p = (
        F.lit(2.0)
        * F.exp(-az * az / F.lit(2.0))
        / F.sqrt(F.lit(2.0) * F.lit(math.pi))
        * poly
    )
    return stat.select(
        "n_treat",
        "n_ctrl",
        F.round("chi2", 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        (p < 0.001).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Round-6b: the remaining experiment-inference lenses — equivalence
# (TOST), sensitivity (power/MDE), and the Bayesian posterior read.
# ---------------------------------------------------------------------------

def _sf_signed_sql(z: str) -> str:
    """Upper-tail P(Z > z) for ANY sign of z: the A&S polynomial on |z|,
    reflected for negative arguments — the SQL twin of the Spark-side
    CASE both TOST and the Bayesian readout use."""
    return (
        f"(CASE WHEN ({z}) >= 0 THEN {_fdr_sf_sql(f'abs({z})')} "
        f"ELSE 1.0 - {_fdr_sf_sql(f'abs({z})')} END)"
    )


_TOST_MARGIN = 0.02  # equivalence margin on conversion rate
_Z_975 = 1.959963984540054  # Phi^-1(0.975), literal on both engines
_Z_80 = 0.8416212335729143  # Phi^-1(0.80)


def _arm_rates_sql() -> str:
    return f"""
        arms AS (
            SELECT user_id, {_ARM_SQL} AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                             >= {_CONV_SHARE}
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        per_arm AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_conv
            FROM arms GROUP BY arm
        ),
        wide AS (
            SELECT MAX(CASE WHEN arm = 1 THEN n_users END) AS nt,
                   MAX(CASE WHEN arm = 0 THEN n_users END) AS nc,
                   MAX(CASE WHEN arm = 1 THEN n_conv END) AS ct,
                   MAX(CASE WHEN arm = 0 THEN n_conv END) AS cc
            FROM per_arm
        ),
        se AS (
            SELECT nt, nc, ct, cc,
                   ct * 1.0 / nt - cc * 1.0 / nc AS diff,
                   sqrt((ct * 1.0 / nt) * (1.0 - ct * 1.0 / nt) / nt
                        + (cc * 1.0 / nc) * (1.0 - cc * 1.0 / nc) / nc)
                       AS se
            FROM wide
        )
    """


@register(
    "tost_equivalence_test",
    oracle=f"""
        WITH {_arm_rates_sql()}
        SELECT nt AS n_treat, nc AS n_ctrl,
               ROUND(diff, 6) AS diff,
               ROUND(se, 6) AS se,
               ROUND((diff + {_TOST_MARGIN}) / se, 6) AS z_lower,
               ROUND((diff - {_TOST_MARGIN}) / se, 6) AS z_upper,
               ROUND(GREATEST(
                   {_sf_signed_sql(f"((diff + {_TOST_MARGIN}) / se)")},
                   {_sf_signed_sql(f"(-((diff - {_TOST_MARGIN}) / se))")}
               ), 6) AS tost_p,
               GREATEST(
                   {_sf_signed_sql(f"((diff + {_TOST_MARGIN}) / se)")},
                   {_sf_signed_sql(f"(-((diff - {_TOST_MARGIN}) / se))")}
               ) < 0.05 AS equivalent
        FROM se
    """,
    doc=(
        f"TOST EQUIVALENCE TEST (two one-sided tests, margin +/-"
        f"{_TOST_MARGIN}): the inference a no-regression launch "
        "actually needs — 'prove the treatment is NOT worse (or "
        "better) by more than the margin', which a non-significant "
        "difference test can never establish (absence of evidence). "
        "Both one-sided z's against the margin bounds, tost_p = the "
        "larger one-sided p, equivalence declared when it clears 0.05 "
        "— i.e. the 90% CI sits inside the margin. Same per-user/"
        "per-arm reduction as ab_conversion_lift (exact integer "
        "counts), p's via the shared A&S tail; the upper-tail p uses "
        "the 1 - sf(-z) identity so both engines evaluate the one "
        "literal polynomial."
    ),
    tags=("evals", "experimentation", "statistics"),
)
def tost_equivalence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.any_value(_arm(F.col("user_id"))).alias("arm"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("nt"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("nc"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("ct"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("cc"),
    )
    pt = F.col("ct") * F.lit(1.0) / F.col("nt")
    pc = F.col("cc") * F.lit(1.0) / F.col("nc")
    diff = pt - pc
    se = F.sqrt(pt * (1.0 - pt) / F.col("nt") + pc * (1.0 - pc) / F.col("nc"))

    def sf(zc):
        az = zc  # caller passes the value whose tail we want (can be <0)
        t = F.lit(1.0) / (F.lit(1.0) + F.lit(_FDR_AS_P) * F.abs(az))
        poly = t * (
            F.lit(_FDR_AS_B[0])
            + t
            * (
                F.lit(_FDR_AS_B[1])
                + t * (F.lit(_FDR_AS_B[2]) + t * (F.lit(_FDR_AS_B[3]) + t * F.lit(_FDR_AS_B[4])))
            )
        )
        tail = (
            F.exp(-az * az / F.lit(2.0))
            / F.sqrt(F.lit(2.0) * F.lit(math.pi))
            * poly
        )
        # A&S gives the upper tail for z>=0; reflect for z<0
        return F.when(az >= 0, tail).otherwise(F.lit(1.0) - tail)

    z_lo = (diff + _TOST_MARGIN) / se
    z_hi = (diff - _TOST_MARGIN) / se
    # H0_lower: diff <= -margin -> reject when z_lo large: p = sf(z_lo)
    # H0_upper: diff >= +margin -> reject when z_hi small: p = 1 - sf(z_hi)
    tost_p = F.greatest(sf(z_lo), F.lit(1.0) - sf(z_hi))
    return wide.select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.round(diff, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(z_lo, 6).alias("z_lower"),
        F.round(z_hi, 6).alias("z_upper"),
        F.round(tost_p, 6).alias("tost_p"),
        (tost_p < 0.05).alias("equivalent"),
    )


@register(
    "ab_power_mde",
    oracle=f"""
        WITH {_arm_rates_sql()}
        SELECT nt AS n_treat, nc AS n_ctrl,
               ROUND(se, 6) AS se_diff,
               ROUND(({_Z_975} + {_Z_80}) * se, 6) AS mde_abs,
               ROUND(({_Z_975} + {_Z_80}) * se / (cc * 1.0 / nc), 6)
                   AS mde_rel,
               ROUND(cc * 1.0 / nc, 6) AS baseline_rate
        FROM se
    """,
    doc=(
        "POWER / MINIMUM-DETECTABLE-EFFECT for the running experiment: "
        "with the observed arm sizes and rate variance, the smallest "
        "true lift detectable at alpha=.05 (two-sided) and 80% power, "
        "MDE = (z_.975 + z_.80) * SE_diff — absolute and relative to "
        "the control baseline. The sizing sanity check read BEFORE "
        "celebrating a null result ('we could never have seen less "
        "than X anyway') and the planning number for how much longer "
        "to run. The z quantiles are literal constants (both engines "
        "have no probit); everything else is the exact-count SE from "
        "the shared arm reduction."
    ),
    tags=("evals", "experimentation", "statistics"),
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.any_value(_arm(F.col("user_id"))).alias("arm"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("nt"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("nc"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("ct"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("cc"),
    )
    pt = F.col("ct") * F.lit(1.0) / F.col("nt")
    pc = F.col("cc") * F.lit(1.0) / F.col("nc")
    se = F.sqrt(pt * (1.0 - pt) / F.col("nt") + pc * (1.0 - pc) / F.col("nc"))
    mde = F.lit(_Z_975 + _Z_80) * se
    return wide.select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.round(se, 6).alias("se_diff"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / pc, 6).alias("mde_rel"),
        F.round(pc, 6).alias("baseline_rate"),
    )


@register(
    "bayesian_ab_probability",
    oracle=f"""
        WITH {_arm_rates_sql()}
        SELECT nt AS n_treat, nc AS n_ctrl,
               ROUND((ct + 1.0) / (nt + 2.0), 6) AS posterior_treat,
               ROUND((cc + 1.0) / (nc + 2.0), 6) AS posterior_ctrl,
               ROUND(1.0 - {_sf_signed_sql(
                   "(((ct + 1.0) / (nt + 2.0) - (cc + 1.0) / (nc + 2.0))"
                   " / sqrt((ct + 1.0) * (nt - ct + 1.0)"
                   "        / ((nt + 2.0) * (nt + 2.0) * (nt + 3.0))"
                   "        + (cc + 1.0) * (nc - cc + 1.0)"
                   "          / ((nc + 2.0) * (nc + 2.0) * (nc + 3.0))))"
               )}, 6) AS p_treat_worse,
               ROUND({_sf_signed_sql(
                   "(((ct + 1.0) / (nt + 2.0) - (cc + 1.0) / (nc + 2.0))"
                   " / sqrt((ct + 1.0) * (nt - ct + 1.0)"
                   "        / ((nt + 2.0) * (nt + 2.0) * (nt + 3.0))"
                   "        + (cc + 1.0) * (nc - cc + 1.0)"
                   "          / ((nc + 2.0) * (nc + 2.0) * (nc + 3.0))))"
               )}, 6) AS p_treat_better
        FROM se
    """,
    doc=(
        "BAYESIAN A/B READOUT: Beta(1,1)-prior posteriors per arm "
        "(posterior mean (c+1)/(n+2)) and P(treatment > control) under "
        "the normal approximation of the posterior difference (exact "
        "Beta means/variances, the approximation every dashboard "
        "ships; the exact Beta integral needs incomplete-Beta neither "
        "engine has) — the decision-friendly complement to the "
        "frequentist z: 'there is a 97% chance treatment is better' "
        "is the sentence stakeholders act on, and the probability is "
        "monotone in the same z the lift test computes, so the two "
        "lenses can never disagree on direction. Exact integer counts "
        "-> closed-form posterior moments -> the shared A&S tail. "
        "NOTE the sf(z) asymmetry: p_better = sf(z) needs z's sign "
        "handled, which the reflected-tail CASE does identically on "
        "both engines."
    ),
    tags=("evals", "experimentation", "statistics"),
)
def bayesian_ab_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.any_value(_arm(F.col("user_id"))).alias("arm"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("nt"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("nc"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("ct"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("cc"),
    )
    mt = (F.col("ct") + 1.0) / (F.col("nt") + 2.0)
    mc = (F.col("cc") + 1.0) / (F.col("nc") + 2.0)
    vt = (
        (F.col("ct") + 1.0)
        * (F.col("nt") - F.col("ct") + 1.0)
        / ((F.col("nt") + 2.0) * (F.col("nt") + 2.0) * (F.col("nt") + 3.0))
    )
    vc = (
        (F.col("cc") + 1.0)
        * (F.col("nc") - F.col("cc") + 1.0)
        / ((F.col("nc") + 2.0) * (F.col("nc") + 2.0) * (F.col("nc") + 3.0))
    )
    z = (mt - mc) / F.sqrt(vt + vc)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_FDR_AS_P) * F.abs(z))
    poly = t * (
        F.lit(_FDR_AS_B[0])
        + t
        * (
            F.lit(_FDR_AS_B[1])
            + t * (F.lit(_FDR_AS_B[2]) + t * (F.lit(_FDR_AS_B[3]) + t * F.lit(_FDR_AS_B[4])))
        )
    )
    tail = (
        F.exp(-z * z / F.lit(2.0)) / F.sqrt(F.lit(2.0) * F.lit(math.pi)) * poly
    )
    sf_z = F.when(z >= 0, tail).otherwise(F.lit(1.0) - tail)
    return wide.select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.round(mt, 6).alias("posterior_treat"),
        F.round(mc, 6).alias("posterior_ctrl"),
        F.round(F.lit(1.0) - sf_z, 6).alias("p_treat_worse"),
        F.round(sf_z, 6).alias("p_treat_better"),
    )


# --- Round-6: McNemar paired-screen comparison ---------------------------------

_MCN_LEN_CUT = 250  # screen A: doc passes if n_chars >= cut
_MCN_TOK_CUT = 45  # screen B: doc passes if token count >= cut


@register(
    "mcnemar_paired_screens",
    oracle=f"""
        WITH flags AS (
            SELECT CASE WHEN n_chars >= {_MCN_LEN_CUT} THEN 1 ELSE 0 END AS a,
                   CASE WHEN len(string_split(text, ' ')) >= {_MCN_TOK_CUT}
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        cells AS (
            SELECT CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00,
                   CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11
            FROM flags
        )
        SELECT n00, n01, n10, n11,
               ROUND(CAST((n01 - n10) * (n01 - n10) AS DOUBLE)
                     / (n01 + n10), 6) AS chi2_mcnemar,
               ROUND(CAST((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1)
                          AS DOUBLE) / (n01 + n10), 6) AS chi2_continuity
        FROM cells
    """,
    doc=(
        "McNEMAR'S TEST on two PAIRED document screens (the significance "
        "layer quality_screen_agreement's raw agreement rates lack): "
        "when two filters judge the SAME documents, only the DISCORDANT "
        "cells n01/n10 carry information about which screen is stricter "
        "— chi2 = (n01-n10)^2/(n01+n10), with Edwards' continuity "
        "correction alongside — the paired test every screen-replacement "
        "decision should run instead of comparing raw pass rates (which "
        "double-counts the concordant mass). Screens here: length >= "
        f"{_MCN_LEN_CUT} chars vs >= {_MCN_TOK_CUT} tokens. One "
        "projection, one 4-cell aggregate (map-side combined), exact "
        "integer cells, two mirrored rounded divisions."
    ),
    tags=("evals", "statistics", "quality"),
)
def mcnemar_paired_screens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= _MCN_LEN_CUT, 1).otherwise(0)
    b = F.when(F.size(F.split("text", " ")) >= _MCN_TOK_CUT, 1).otherwise(0)
    flags = docs.select(a.alias("a"), b.alias("b"))
    cells = flags.agg(
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
    )
    d = F.col("n01") - F.col("n10")
    tot = F.col("n01") + F.col("n10")
    return cells.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.round((d * d).cast("double") / tot, 6).alias("chi2_mcnemar"),
        F.round(
            ((F.abs(d) - 1) * (F.abs(d) - 1)).cast("double") / tot, 6
        ).alias("chi2_continuity"),
    )


# ---------------------------------------------------------------------------
# Corpus BLEU: modified n-gram precision components for generation eval.
# ---------------------------------------------------------------------------

_BLEU_MAX_N = 4
_BLEU_DROP = 7  # candidate = reference with every 7th token removed


@register(
    "corpus_bleu_eval",
    oracle=f"""
        WITH split AS (
            SELECT doc_id, string_split(text, ' ') AS ref FROM documents
        ),
        toks AS (
            SELECT doc_id, ref,
                   [ref[i] FOR i IN range(1, len(ref) + 1)
                           IF i % {_BLEU_DROP} != 0] AS cand
            FROM split
        ),
        grams AS (
            SELECT doc_id, n,
                   unnest([array_to_string(cand[i:i+n-1], ' ')
                           FOR i IN range(1, len(cand) - n + 2)]) AS gram,
                   1 AS from_cand
            FROM toks, (SELECT unnest(range(1, {_BLEU_MAX_N} + 1)) AS n)
            UNION ALL
            SELECT doc_id, n,
                   unnest([array_to_string(ref[i:i+n-1], ' ')
                           FOR i IN range(1, len(ref) - n + 2)]) AS gram,
                   0 AS from_cand
            FROM toks, (SELECT unnest(range(1, {_BLEU_MAX_N} + 1)) AS n)
        ),
        counts AS (
            SELECT doc_id, n, gram,
                   CAST(SUM(from_cand) AS BIGINT) AS cc,
                   CAST(COUNT(*) - SUM(from_cand) AS BIGINT) AS cr
            FROM grams GROUP BY doc_id, n, gram
        ),
        prec AS (
            SELECT n,
                   CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clipped_total,
                   CAST(SUM(cc) AS BIGINT) AS cand_total
            FROM counts WHERE cc > 0 GROUP BY n
        ),
        lens AS (
            SELECT CAST(SUM(len(cand)) AS BIGINT) AS cand_len,
                   CAST(SUM(len(ref)) AS BIGINT) AS ref_len
            FROM toks
        )
        SELECT CAST(n AS BIGINT) AS n, clipped_total, cand_total,
               cand_len, ref_len
        FROM prec CROSS JOIN lens
    """,
    doc=(
        "CORPUS BLEU COMPONENTS (Papineni et al. 2002) — the generation-"
        "eval text-overlap metric the retrieval/calibration eval family "
        "lacked: modified (clipped) n-gram precision for n=1..4 between a "
        "deterministic candidate (the reference with every "
        f"{_BLEU_DROP}th token dropped — a reproducible 'lossy "
        "generation') and the reference text, plus the corpus candidate/"
        "reference lengths that feed the brevity penalty. The output is "
        "the ALL-INTEGER component table (n, clipped_total, cand_total, "
        "cand_len, ref_len) — BLEU = BP * exp(mean log(clipped/cand)) is "
        "one bounded driver-side expression over 4 rows, kept out of the "
        "hashed result entirely (the covariance-spectrum contract rule). "
        "Clipping joins candidate against reference counts PER DOCUMENT "
        "(one hash aggregate keyed (doc_id, n, gram), no cross-document "
        "state), so the plan is a single corpus scan + one shuffle on "
        "doc-local keys and the per-n component table is 4 rows — at "
        "100 TB the gram aggregate partitions on (doc_id, n, gram) with "
        "map-side partial aggregation and nothing global beyond the "
        "4-row total."
    ),
    tags=("evals", "llm", "text", "generation"),
)
def corpus_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    ref = tokens(F.col("text"))
    cand = F.filter(ref, lambda t, i: (i + 1) % _BLEU_DROP != 0)
    toks = docs.select("doc_id", ref.alias("ref"), cand.alias("cand"))

    # ONE corpus scan (r11 scan audit, with rouge_n_generation_eval):
    # every (n, side) n-gram list is tagged into a struct array on the
    # same row and a single explode fans them out — the
    # union-of-branches form re-scanned the parquet once per branch
    # (8 gram branches + the length aggregate: 9 scans)
    def tagged(col: str, n: int, flag: int):
        return F.transform(
            word_ngrams(F.col(col), n),
            lambda g: F.struct(
                F.lit(n).cast("bigint").alias("n"),
                g.alias("gram"),
                F.lit(flag).alias("from_cand"),
            ),
        )

    all_grams = F.concat(
        *[tagged("cand", n, 1) for n in range(1, _BLEU_MAX_N + 1)],
        *[tagged("ref", n, 0) for n in range(1, _BLEU_MAX_N + 1)],
    )
    from weather_stream_processor_spark.plans.caching import truncate_lineage

    # (doc, n, gram)-keyed counts + the 1-row length totals both come
    # off this one bounded-ish keyed frame; the gram-count frame is
    # shuffled once and checkpointed so the corpus scan runs exactly
    # once for BOTH consumers
    grams = toks.select(
        "doc_id", F.explode(all_grams).alias("g")
    ).select("doc_id", "g.n", "g.gram", "g.from_cand")
    counts = truncate_lineage(
        grams.groupBy("doc_id", "n", "gram").agg(
            F.sum("from_cand").cast("bigint").alias("cc"),
            (F.count(F.lit(1)) - F.sum("from_cand"))
            .cast("bigint")
            .alias("cr"),
        )
    )
    prec = (
        counts.filter(F.col("cc") > 0)
        .groupBy("n")
        .agg(
            F.sum(F.least("cc", "cr")).cast("bigint").alias("clipped_total"),
            F.sum("cc").cast("bigint").alias("cand_total"),
        )
    )
    # total unigram OCCURRENCES are exactly the corpus token lengths,
    # so the brevity-penalty inputs come off the same checkpointed
    # gram-count frame — no second corpus scan
    lens = counts.filter(F.col("n") == 1).agg(
        F.sum("cc").cast("bigint").alias("cand_len"),
        F.sum("cr").cast("bigint").alias("ref_len"),
    )
    return prec.crossJoin(F.broadcast(lens)).select(
        "n", "clipped_total", "cand_total", "cand_len", "ref_len"
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap: label-free agreement between two rankers (round 9).
# ---------------------------------------------------------------------------

_RBO_DEPTH = 10
# Exact integer weights for truncated RBO at p = 9/10:
#   rbo@k = (1-p) * sum_{d=1..k} p^(d-1) * overlap_d / d
# lifted by DEN = 2520 * 10^10 (2520 = lcm(1..10), so every term is an
# exact BIGINT): w(d) = 9^(d-1) * 10^(10-d) * (2520 / d). Precomputed
# literals, same determinism trick as the Benford ppb table — neither
# engine evaluates a power or division at query time.
_RBO_DEN = 25_200_000_000_000
_RBO_W = {
    1: 2_520_000_000_000,
    2: 1_134_000_000_000,
    3: 680_400_000_000,
    4: 459_270_000_000,
    5: 330_674_400_000,
    6: 248_005_800_000,
    7: 191_318_760_000,
    8: 150_663_523_500,
    9: 120_530_818_800,
    10: 97_629_963_228,
}
_RBO_W_SQL = (
    "CASE d "
    + " ".join(f"WHEN {d} THEN CAST({w} AS BIGINT)" for d, w in _RBO_W.items())
    + " END"
)


@register(
    "rank_biased_overlap",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok IN ('spark', 'join', 'window')
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scores AS (
            SELECT tf.doc_id,
                   CAST(SUM(tf.tf) AS BIGINT) AS s_tf,
                   CAST(SUM(tf.tf * (n.n_docs - df.df)) AS BIGINT) AS s_idf
            FROM tf JOIN df USING (term) CROSS JOIN n
            GROUP BY tf.doc_id
        ),
        ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY s_tf DESC, doc_id) AS rank_a,
                   ROW_NUMBER() OVER (ORDER BY s_idf DESC, doc_id) AS rank_b
            FROM scores
        ),
        depths AS (SELECT unnest(range(1, {_RBO_DEPTH} + 1)) AS d),
        ov AS (
            SELECT d.d,
                   CAST(COUNT(*) FILTER (WHERE r.rank_a <= d.d
                                           AND r.rank_b <= d.d)
                        AS BIGINT) AS overlap
            FROM depths d CROSS JOIN ranked r
            GROUP BY d.d
        )
        SELECT CAST(d AS BIGINT) AS d, overlap,
               CAST(overlap * ({_RBO_W_SQL}) AS BIGINT) AS contrib_num,
               CAST(SUM(overlap * ({_RBO_W_SQL})) OVER () AS BIGINT)
                   AS rbo_num,
               CAST({_RBO_DEN} AS BIGINT) AS rbo_den
        FROM ov
    """,
    doc=(
        "RANK-BIASED OVERLAP @10, p=0.9 (Webber, Moffat & Zobel 2010) "
        "between two rankers of the corpus for the fixed 3-term query — "
        "the LABEL-FREE ranker-agreement metric next to the labeled "
        "ndcg/mrr/ap family: how much does rarity (IDF) weighting "
        "actually change the ranking? Ranker A orders by total query-"
        "term frequency, ranker B by rarity-weighted frequency "
        "tf*(n_docs - df); both scores are exact BIGINTs so both "
        "orderings are engine-stable without any float comparison, and "
        "the top-weighted prefix overlaps are combined with the "
        "PRECOMPUTED integer RBO weights (lcm-lifted by 2520*10^10, the "
        "Benford-constant trick) — the hashed result is all-BIGINT: "
        "per-depth overlap, contribution, and the exact RBO numerator/"
        "denominator pair (rbo = rbo_num/rbo_den once, driver-side). "
        "Plan: one token-filter scan (the IN pushes to the scan), a "
        "per-doc aggregate, two row_numbers over the matched-docs-only "
        "relation, and a 10-row bounded depth grid — the corpus never "
        "meets the window because non-matching docs are filtered before "
        "ranking; at 100 TB the ranked relation is |matched docs| and "
        "the prefix-overlap join is depth-bounded."
    ),
    tags=("evals", "llm", "retrieval", "ranking"),
)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*_QUERY_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scores = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("s_tf"),
            F.sum(F.col("tf") * (F.col("n_docs") - F.col("df")))
            .cast("bigint")
            .alias("s_idf"),
        )
    )
    # RBO@10 only consumes ranks <= DEPTH, so each ranker's prefix comes
    # from a distributed TakeOrderedAndProject (orderBy + limit — partial
    # top-k on every partition, never a corpus-wide window); the
    # row_number windows then run over the DEPTH-row slices, bounded by
    # construction like the calibration-bin frames.
    wa = Window.orderBy(F.desc("s_tf"), F.asc("doc_id"))
    wb = Window.orderBy(F.desc("s_idf"), F.asc("doc_id"))
    topa = (
        scores.orderBy(F.desc("s_tf"), F.asc("doc_id"))
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(wa).alias("rank_a"))
    )
    topb = (
        scores.orderBy(F.desc("s_idf"), F.asc("doc_id"))
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(wb).alias("rank_b"))
    )
    ranked = topa.join(topb, "doc_id", "full").select(
        "doc_id",
        F.coalesce("rank_a", F.lit(_RBO_DEPTH + 1)).alias("rank_a"),
        F.coalesce("rank_b", F.lit(_RBO_DEPTH + 1)).alias("rank_b"),
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    ov = (
        depths.crossJoin(F.broadcast(ranked))
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    (F.col("rank_a") <= F.col("d"))
                    & (F.col("rank_b") <= F.col("d")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("overlap")
        )
    )
    w_col = F.expr(_RBO_W_SQL)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ov.select(
        F.col("d").cast("bigint").alias("d"),
        "overlap",
        (F.col("overlap") * w_col).cast("bigint").alias("contrib_num"),
        F.sum(F.col("overlap") * w_col).over(w_all).cast("bigint").alias("rbo_num"),
        F.lit(_RBO_DEN).cast("bigint").alias("rbo_den"),
    )


# ---------------------------------------------------------------------------
# chrF: character n-gram F-score — the BLEU-orthogonal generation metric.
# ---------------------------------------------------------------------------

_CHRF_MAX_N = 6
_CHRF_DROP = 5  # candidate = reference with every 5th token removed


def _chrf_gram_counts(strs: DataFrame) -> DataFrame:
    """(doc_id, n, gram) -> (cc, cr) clipped-count table from ONE pass:
    each doc row cross-joins the broadcast 12-cell (variant x order) grid
    and explodes its char n-grams with a column-valued window length —
    the strings and the scan are materialized once, vs the 12-way
    unioned re-scan of the original registered form (kept below as
    `_chrf_union_form`, bit-equality-tested: both build the identical
    gram multiset, so the exact-integer aggregates cannot differ)."""
    grid = F.array(
        *[
            F.struct(
                F.lit(n).cast("bigint").alias("n"),
                F.lit(flag).alias("from_cand"),
            )
            for n in range(1, _CHRF_MAX_N + 1)
            for flag in (1, 0)
        ]
    )
    cells = strs.select(
        "doc_id", "ref_s", "cand_s", F.explode(grid).alias("cell")
    ).select(
        "doc_id",
        F.col("cell.n").alias("n"),
        F.col("cell.from_cand").alias("from_cand"),
        F.when(F.col("cell.from_cand") == 1, F.col("cand_s"))
        .otherwise(F.col("ref_s"))
        .alias("s"),
    )
    s, n = F.col("s"), F.col("n")
    # Guard: sub-n-char strings yield an EMPTY set. greatest(span, 0) is
    # NOT enough — sequence(1, 0) still auto-DESCENDS to [1, 0] and
    # fabricates two phantom grams per short string (caught by the
    # constructed-corpus test; the fixtures' shortest doc is longer than
    # every order, so oracle parity alone could not see it). The audited
    # F.sequence class requires the explicit length >= n branch.
    grams = F.when(
        F.length(s) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - n + 1),
            lambda i: F.substring(s, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = cells.select(
        "doc_id", "n", "from_cand", F.explode(grams).alias("gram")
    )
    return exploded.groupBy("doc_id", "n", "gram").agg(
        F.sum("from_cand").cast("bigint").alias("cc"),
        (F.count(F.lit(1)) - F.sum("from_cand")).cast("bigint").alias("cr"),
    )


def _chrf_strs(sf_dir: str, spark: SparkSession) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    cand_s = F.array_join(
        F.filter(toks, lambda t, i: (i + 1) % _CHRF_DROP != 0), ""
    )
    ref_s = F.array_join(toks, "")
    return docs.select("doc_id", ref_s.alias("ref_s"), cand_s.alias("cand_s"))



@register(
    "chrf_generation_eval",
    oracle=f"""
        WITH split AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        strs AS (
            SELECT doc_id,
                   replace(text, ' ', '') AS ref_s,
                   array_to_string([toks[i] FOR i IN range(1, len(toks) + 1)
                                    IF i % {_CHRF_DROP} != 0], '') AS cand_s
            FROM split JOIN documents USING (doc_id)
        ),
        grams AS (
            SELECT doc_id, n,
                   unnest([substr(cand_s, i, n)
                           FOR i IN range(1, greatest(len(cand_s) - n + 2, 1))])
                       AS gram,
                   1 AS from_cand
            FROM strs, (SELECT unnest(range(1, {_CHRF_MAX_N} + 1)) AS n)
            UNION ALL
            SELECT doc_id, n,
                   unnest([substr(ref_s, i, n)
                           FOR i IN range(1, greatest(len(ref_s) - n + 2, 1))])
                       AS gram,
                   0 AS from_cand
            FROM strs, (SELECT unnest(range(1, {_CHRF_MAX_N} + 1)) AS n)
        ),
        counts AS (
            SELECT doc_id, n, gram,
                   CAST(SUM(from_cand) AS BIGINT) AS cc,
                   CAST(COUNT(*) - SUM(from_cand) AS BIGINT) AS cr
            FROM grams GROUP BY doc_id, n, gram
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS overlap_total,
               CAST(SUM(cc) AS BIGINT) AS cand_total,
               CAST(SUM(cr) AS BIGINT) AS ref_total
        FROM counts GROUP BY n
    """,
    doc=(
        "chrF sufficient statistics (Popovic 2015): CHARACTER-level "
        "generation quality, the F-beta family member that survives "
        "morphology-rich text, sub-word errors, and tokenizer "
        "disagreements where any word-identity metric scores a stemmed "
        "variant zero — a character 6-gram still credits the shared "
        "stem. Whitespace is stripped first (the chrF convention); the "
        f"synthetic hypothesis removes every {_CHRF_DROP}th word, a "
        "different corruption period than the word-level eval uses, so "
        "the two metrics observe independent perturbations. Emitted per "
        "character-gram order 1..6: matched mass (min of the two "
        "per-document multiplicity counts, summed), hypothesis mass, "
        "and reference mass — exact BIGINTs; the F2 combination "
        "5PR/(4P+R) and its average over orders live in one 6-row "
        "driver-side expression, never in the hashed result. Matching "
        "is per (doc_id, order, gram) in a single hash-partitioned "
        "aggregate with partial combine. Plan: the registered form is "
        "the GEAR PASS (the CDC-chunking move) — clipping is PER "
        "DOCUMENT, so each task counts its documents' char n-grams "
        "locally and emits SIX partial rows per task/partition (one "
        "per order, after draining all its Arrow batches), and the "
        "only shuffle carries those six rows instead of the 12x-corpus-"
        "characters (doc_id, order, gram) relation the relational "
        "explode ships (30x-input probe: wall 21.7 s -> 7.9 s, ratio "
        "1.0). The in-task counting is numpy-vectorized ACROSS the "
        "batch, the CDC gear-pass standard: code points from utf-32 "
        "byte views, doc-id-prefixed fixed-width gram records compared "
        "as void scalars, per-doc multiplicities from one np.unique "
        "per (side, order), clipped overlap from a sorted intersect — "
        "no per-character Python in the hot loop. Two relational twins "
        "are kept and bit-"
        "equality-tested: `_chrf_grid_form` (single-scan grid explode, "
        "whose sequence() is branch-guarded on length >= order — "
        "greatest(span, 0) still auto-descends at span 0 and "
        "fabricates phantom grams on sub-order-length documents, "
        "caught by the constructed-corpus test) and the original "
        "`_chrf_union_form` the oracle mirrors."
    ),
    tags=("evals", "llm", "text", "generation"),
)
def chrf_generation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from weather_stream_processor_spark.sources import spread

    # GEAR PASS (the CDC-chunking move applied to chrF): clipping is PER
    # DOCUMENT, so nothing about this metric needs a cross-document gram
    # table — each task counts its documents' char n-grams locally and
    # emits SIX partial rows per task/partition (one per order, after
    # draining all its Arrow batches), and the only shuffle in the whole
    # plan carries those six rows instead of the 12x-corpus-characters
    # (doc_id, n, gram) relation the explode form ships (the exact
    # char-scale-shuffle class the r7 CDC rewrite removed; 30x probe:
    # wall 21.7 s -> ~2 s class). The in-task counting is numpy-
    # vectorized ACROSS the whole batch (the CDC gear-pass standard, r8
    # verdict task 5): strings become uint32 code-point arrays via their
    # utf-32-le byte view; each gram is packed into ONE uint64 key by a
    # base-v positional code over the batch-local character vocabulary
    # (shared between cand and ref so keys are comparable) with the doc
    # index in the high digits, so a single radix-friendly
    # np.unique(return_counts) per (side, order) produces the
    # per-document multiplicity table and the per-doc clipped overlap is
    # a sorted np.intersect1d + elementwise minimum. If v**6 * ndocs
    # would overflow 63 bits (pathologically wide alphabets), the batch
    # falls back to doc-prefixed fixed-width void records — same
    # algebra, generic byte-wise sort. Exact integer counting either
    # way — bit-identical to the Counter form it replaced (equality-
    # pinned by tests/test_r8_scalepath.py's twin tests; micro-bench
    # 3.4x over the Counter loop). The grid-explode form is kept below
    # as the oracle-mirrorable twin (`_chrf_grid_form`), bit-equality-
    # tested at two scales; spread() before the pass for the
    # single-file-scan parallelism lesson.
    strs = spread(_chrf_strs(sf_dir, spark), "doc_id")

    def _gram_table_void(arr, doc_of, n):
        """Void-record fallback: per-doc gram multiplicities, one order.

        arr: concatenated code points (uint32); doc_of: doc index per
        code point (uint32). Returns (keys, counts, total_grams);
        windows that straddle a document boundary are masked out.
        """
        if arr.size < n:
            return None, None, 0
        win = np.lib.stride_tricks.sliding_window_view(arr, n)
        inside = doc_of[: arr.size - n + 1] == doc_of[n - 1 :]
        win = win[inside]
        if win.shape[0] == 0:
            return None, None, 0
        docs = doc_of[: arr.size - n + 1][inside]
        rec = np.ascontiguousarray(
            np.concatenate([docs[:, None], win], axis=1)
        ).view(np.dtype((np.void, 4 * (n + 1))))[:, 0]
        keys, counts = np.unique(rec, return_counts=True)
        return keys, counts, int(win.shape[0])

    def _packed_tables(c_arr, c_doc, r_arr, r_doc, ndocs):
        """uint64-packed per-order tables for BOTH sides, or None if the
        base-v positional code cannot fit in 63 bits for this batch."""
        vocab = np.unique(np.concatenate([c_arr, r_arr]))
        v = int(vocab.size)
        if v == 0 or (v ** _CHRF_MAX_N) * max(ndocs, 1) >= 2 ** 63:
            return None
        c_rank = np.searchsorted(vocab, c_arr).astype(np.uint64)
        r_rank = np.searchsorted(vocab, r_arr).astype(np.uint64)
        vv = np.uint64(v)
        out = []
        ck_key, rk_key = c_rank, r_rank

        def one(key, arr, doc, n):
            if arr.size < n:
                return None, None, 0
            inside = doc[: arr.size - n + 1] == doc[n - 1 :]
            k = key[inside]
            if k.size == 0:
                return None, None, 0
            full = (
                doc[: arr.size - n + 1][inside].astype(np.uint64)
                * vv ** np.uint64(n)
                + k
            )
            keys, counts = np.unique(full, return_counts=True)
            return keys, counts, int(k.size)

        for n in range(1, _CHRF_MAX_N + 1):
            if n > 1:
                ck_key = ck_key[:-1] * vv + c_rank[n - 1 :]
                rk_key = rk_key[:-1] * vv + r_rank[n - 1 :]
            out.append(
                (one(ck_key, c_arr, c_doc, n), one(rk_key, r_arr, r_doc, n))
            )
        return out

    def _flatten(col):
        bufs = [
            (s if isinstance(s, str) else "").encode("utf-32-le")
            for s in col
        ]
        lens = np.fromiter(
            (len(b) >> 2 for b in bufs), dtype=np.int64, count=len(bufs)
        )
        arr = (
            np.frombuffer(b"".join(bufs), dtype="<u4")
            if bufs
            else np.empty(0, dtype="<u4")
        )
        doc_of = np.repeat(np.arange(len(bufs), dtype=np.uint32), lens)
        return arr, doc_of

    def _count(batches):
        ov = np.zeros(_CHRF_MAX_N + 1, dtype=np.int64)
        ct = np.zeros(_CHRF_MAX_N + 1, dtype=np.int64)
        rt = np.zeros(_CHRF_MAX_N + 1, dtype=np.int64)
        for pdf in batches:
            c_arr, c_doc = _flatten(pdf["cand_s"])
            r_arr, r_doc = _flatten(pdf["ref_s"])
            tabs = _packed_tables(c_arr, c_doc, r_arr, r_doc, len(pdf))
            if tabs is None:
                tabs = [
                    (
                        _gram_table_void(c_arr, c_doc, n),
                        _gram_table_void(r_arr, r_doc, n),
                    )
                    for n in range(1, _CHRF_MAX_N + 1)
                ]
            for n, ((ck, cc, c_tot), (rk, rc, r_tot)) in enumerate(
                tabs, start=1
            ):
                ct[n] += c_tot
                rt[n] += r_tot
                if ck is not None and rk is not None:
                    _, ic, ir = np.intersect1d(
                        ck, rk, assume_unique=True, return_indices=True
                    )
                    ov[n] += int(np.minimum(cc[ic], rc[ir]).sum())
        yield pd.DataFrame(
            {
                "n": list(range(1, _CHRF_MAX_N + 1)),
                "ov": ov[1:],
                "ct": ct[1:],
                "rt": rt[1:],
            }
        )

    partials = strs.mapInPandas(
        _count, schema="n bigint, ov bigint, ct bigint, rt bigint"
    )
    return partials.groupBy("n").agg(
        F.sum("ov").cast("bigint").alias("overlap_total"),
        F.sum("ct").cast("bigint").alias("cand_total"),
        F.sum("rt").cast("bigint").alias("ref_total"),
    )


def _chrf_grid_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-pass grid-explode formulation — the oracle-mirrorable
    relational twin the registered gear pass is bit-equality-tested
    against (both count the identical gram multisets, so the exact-
    integer component tables cannot differ)."""
    from weather_stream_processor_spark.sources import spread

    counts = _chrf_gram_counts(spread(_chrf_strs(sf_dir, spark), "doc_id"))
    return counts.groupBy("n").agg(
        F.sum(F.least("cc", "cr")).cast("bigint").alias("overlap_total"),
        F.sum("cc").cast("bigint").alias("cand_total"),
        F.sum("cr").cast("bigint").alias("ref_total"),
    )


def _chrf_union_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original 12-way unioned formulation — the oracle-mirrorable
    twin the single-pass registered plan is bit-equality-tested against
    (the CDC explode-form pattern). Each (variant, order) pair re-scans
    the corpus; kept for the equality test only."""
    strs = _chrf_strs(sf_dir, spark)

    def char_ngrams(col: str, n: int):
        s = F.col(col)
        grams = F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: F.substring(s, i, F.lit(n)),
        )
        return F.when(F.length(s) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    def gram_rows(col: str, flag: int) -> DataFrame:
        parts = [
            strs.select(
                "doc_id",
                F.lit(n).cast("bigint").alias("n"),
                F.explode(char_ngrams(col, n)).alias("gram"),
                F.lit(flag).alias("from_cand"),
            )
            for n in range(1, _CHRF_MAX_N + 1)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    grams = gram_rows("cand_s", 1).unionAll(gram_rows("ref_s", 0))
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.sum("from_cand").cast("bigint").alias("cc"),
        (F.count(F.lit(1)) - F.sum("from_cand")).cast("bigint").alias("cr"),
    )
    return counts.groupBy("n").agg(
        F.sum(F.least("cc", "cr")).cast("bigint").alias("overlap_total"),
        F.sum("cc").cast("bigint").alias("cand_total"),
        F.sum("cr").cast("bigint").alias("ref_total"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q: K paired binary screens (the k-way McNemar).
# ---------------------------------------------------------------------------

_CQ_LEN_CUT = 300
_CQ_TOK_CUT = 50


@register(
    "cochran_q_screens",
    oracle=f"""
        WITH flags AS (
            SELECT CASE WHEN n_chars >= {_CQ_LEN_CUT} THEN 1 ELSE 0 END AS a,
                   CASE WHEN len(string_split(text, ' ')) >= {_CQ_TOK_CUT}
                        THEN 1 ELSE 0 END AS b,
                   CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                            >= len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS u
            FROM documents
        ),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a) AS BIGINT) AS c_len,
                   CAST(SUM(b) AS BIGINT) AS c_tok,
                   CAST(SUM(u) AS BIGINT) AS c_uniq,
                   CAST(SUM(a + b + u) AS BIGINT) AS sum_r,
                   CAST(SUM((a + b + u) * (a + b + u)) AS BIGINT) AS sum_r2
            FROM flags
        )
        SELECT n, c_len, c_tok, c_uniq, sum_r, sum_r2,
               ROUND(2.0 * (3.0 * (c_len * 1.0 * c_len
                                   + c_tok * 1.0 * c_tok
                                   + c_uniq * 1.0 * c_uniq)
                            - sum_r * 1.0 * sum_r)
                     / (3.0 * sum_r - sum_r2), 6) AS q_stat,
               ROUND(exp(-(2.0 * (3.0 * (c_len * 1.0 * c_len
                                         + c_tok * 1.0 * c_tok
                                         + c_uniq * 1.0 * c_uniq)
                                  - sum_r * 1.0 * sum_r)
                           / (3.0 * sum_r - sum_r2)) / 2.0), 6) AS p_value
        FROM cells
    """,
    doc=(
        "COCHRAN'S Q over THREE paired binary document screens (length "
        f">= {_CQ_LEN_CUT} chars, >= {_CQ_TOK_CUT} tokens, unique-token "
        "ratio >= 1/2) — the k-way generalization of the 2-screen "
        "McNemar: do the screens pass the SAME share of documents, or "
        "does one filter systematically cut more corpus than its "
        "siblings (the calibration question a filter cascade asks "
        "before assigning thresholds)? Q = k(k-1)(sum C_j^2 - T^2/k) / "
        "(k*T - sum R_i^2) with column totals C_j, per-document row "
        "totals R_i, T = sum R_i; every input is an exact BIGINT from "
        "ONE corpus scan feeding ONE map-side-combined 6-cell "
        "aggregate (the unique-ratio screen is the integer comparison "
        "2*distinct >= total — no division). With k = 3 the null "
        "distribution is chi-square df=2, whose survival function is "
        "EXACTLY exp(-Q/2) — a closed form both engines evaluate "
        "identically, no tail polynomial needed. The hashed row is the "
        "six exact integers plus the two mirrored rounded finishes; at "
        "100 TB the plan is scan -> partial agg -> 1-row final, "
        "nothing else."
    ),
    tags=("evals", "statistics", "quality"),
)
def cochran_q_screens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    a = F.when(F.col("n_chars") >= _CQ_LEN_CUT, 1).otherwise(0)
    b = F.when(F.size(toks) >= _CQ_TOK_CUT, 1).otherwise(0)
    u = F.when(2 * F.size(F.array_distinct(toks)) >= F.size(toks), 1).otherwise(0)
    flags = docs.select(a.alias("a"), b.alias("b"), u.alias("u"))
    r = F.col("a") + F.col("b") + F.col("u")
    cells = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("c_len"),
        F.sum("b").cast("bigint").alias("c_tok"),
        F.sum("u").cast("bigint").alias("c_uniq"),
        F.sum(r).cast("bigint").alias("sum_r"),
        F.sum(r * r).cast("bigint").alias("sum_r2"),
    )
    csq = (
        F.col("c_len") * F.lit(1.0) * F.col("c_len")
        + F.col("c_tok") * F.lit(1.0) * F.col("c_tok")
        + F.col("c_uniq") * F.lit(1.0) * F.col("c_uniq")
    )
    q = (
        F.lit(2.0)
        * (F.lit(3.0) * csq - F.col("sum_r") * F.lit(1.0) * F.col("sum_r"))
        / (F.lit(3.0) * F.col("sum_r") - F.col("sum_r2"))
    )
    return cells.select(
        "n",
        "c_len",
        "c_tok",
        "c_uniq",
        "sum_r",
        "sum_r2",
        F.round(q, 6).alias("q_stat"),
        F.round(F.exp(-q / F.lit(2.0)), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha: internal-consistency reliability of a multi-item score.
# ---------------------------------------------------------------------------

_CRA_LEN_SAT = 400


@register(
    "cronbach_alpha_reliability",
    oracle=f"""
        WITH items AS (
            SELECT least(n_chars, {_CRA_LEN_SAT}) AS i1,
                   len(string_split(text, ' ')) AS i2,
                   len(list_distinct(string_split(text, ' '))) AS i3
            FROM documents
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(i1) AS BIGINT) AS s1,
                   CAST(SUM(i1 * i1) AS BIGINT) AS ss1,
                   CAST(SUM(i2) AS BIGINT) AS s2,
                   CAST(SUM(i2 * i2) AS BIGINT) AS ss2,
                   CAST(SUM(i3) AS BIGINT) AS s3,
                   CAST(SUM(i3 * i3) AS BIGINT) AS ss3,
                   CAST(SUM(i1 + i2 + i3) AS BIGINT) AS st,
                   CAST(SUM((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS sst
            FROM items
        )
        SELECT n, s1, ss1, s2, ss2, s3, ss3, st, sst,
               ROUND(1.5 * (1.0 -
                   ((ss1 - s1 * 1.0 * s1 / n)
                    + (ss2 - s2 * 1.0 * s2 / n)
                    + (ss3 - s3 * 1.0 * s3 / n))
                   / (sst - st * 1.0 * st / n)), 6) AS cronbach_alpha
        FROM mom
    """,
    doc=(
        "CRONBACH'S ALPHA internal-consistency reliability of a "
        "three-item document score (saturated length, token count, "
        "distinct-token count) — the psychometric check an eval "
        "pipeline runs on a MULTI-DIMENSION rubric before averaging "
        "its dimensions into one number: alpha near 1 says the items "
        "move together (averaging is defensible), low alpha says the "
        "rubric mixes unrelated constructs and per-dimension reporting "
        "is required. The same question LLM-judge rubrics face "
        "(helpfulness/correctness/style), computed here on integer "
        "proxy items so every sufficient statistic is exact: alpha = "
        "k/(k-1) * (1 - sum item variances / variance of the item "
        "SUM), k = 3, with all nine moment sums (n, per-item sum and "
        "sum-of-squares, total sum and sum-of-squares) hashed as exact "
        "BIGINTs and the alpha finish one mirrored rounded expression "
        "over them (variance denominators n cancel — the biased and "
        "unbiased forms give the SAME alpha, so no n/(n-1) choice can "
        "diverge between engines). Plan: one corpus scan, one "
        "map-side-combined 9-cell aggregate, 1-row output — nothing "
        "shuffles but partial aggregates at any corpus size."
    ),
    tags=("evals", "statistics", "labeling", "quality"),
)
def cronbach_alpha_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    items = docs.select(
        F.least(F.col("n_chars"), F.lit(_CRA_LEN_SAT)).alias("i1"),
        F.size(toks).cast("bigint").alias("i2"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("i3"),
    )
    t = F.col("i1") + F.col("i2") + F.col("i3")
    mom = items.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("i1").cast("bigint").alias("s1"),
        F.sum(F.col("i1") * F.col("i1")).cast("bigint").alias("ss1"),
        F.sum("i2").cast("bigint").alias("s2"),
        F.sum(F.col("i2") * F.col("i2")).cast("bigint").alias("ss2"),
        F.sum("i3").cast("bigint").alias("s3"),
        F.sum(F.col("i3") * F.col("i3")).cast("bigint").alias("ss3"),
        F.sum(t).cast("bigint").alias("st"),
        F.sum(t * t).cast("bigint").alias("sst"),
    )
    nd = F.col("n") * F.lit(1.0)
    var_items = (
        (F.col("ss1") - F.col("s1") * F.lit(1.0) * F.col("s1") / nd)
        + (F.col("ss2") - F.col("s2") * F.lit(1.0) * F.col("s2") / nd)
        + (F.col("ss3") - F.col("s3") * F.lit(1.0) * F.col("s3") / nd)
    )
    var_total = F.col("sst") - F.col("st") * F.lit(1.0) * F.col("st") / nd
    return mom.select(
        "n",
        "s1",
        "ss1",
        "s2",
        "ss2",
        "s3",
        "ss3",
        "st",
        "sst",
        F.round(F.lit(1.5) * (F.lit(1.0) - var_items / var_total), 6).alias(
            "cronbach_alpha"
        ),
    )


# ---------------------------------------------------------------------------
# Character error rate: the ALIGNMENT-based generation metric (BLEU and
# chrF above are overlap-based; edit distance penalizes order).
# ---------------------------------------------------------------------------

_CER_DROP = 6  # candidate = reference with every 6th token removed
# Both engines ship levenshtein() built in, but they disagree OFF ASCII:
# Spark counts Unicode CODE POINTS (UTF8String iterates code points, so a
# non-BMP char counts 1), DuckDB counts UTF-8 BYTES ('héllo' -> 'hello' is
# 1 in Spark, 2 in DuckDB). The registered contract therefore
# projects both strings to printable ASCII first (every other byte -> '#'),
# where bytes == characters and the two engines agree for ANY input — the
# same engine-stability move as the Flesch regexp-delta syllables.
_CER_PROJ = "[^\\x20-\\x7e]"


@register(
    "cer_generation_eval",
    oracle=f"""
        WITH split AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ),
        strs AS (
            SELECT doc_id, source,
                   regexp_replace(array_to_string(toks, ' '),
                                  '{_CER_PROJ}', '#', 'g') AS ref_s,
                   regexp_replace(array_to_string(
                       [toks[i] FOR i IN range(1, len(toks) + 1)
                        IF i % {_CER_DROP} != 0], ' '),
                       '{_CER_PROJ}', '#', 'g') AS cand_s
            FROM split
        ),
        per_doc AS (
            SELECT source,
                   CAST(levenshtein(cand_s, ref_s) AS BIGINT) AS edits,
                   CAST(len(ref_s) AS BIGINT) AS ref_chars
            FROM strs
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(edits) AS BIGINT) AS total_edits,
               CAST(SUM(ref_chars) AS BIGINT) AS total_ref_chars,
               ROUND(SUM(edits) * 1.0 / SUM(ref_chars), 6) AS cer
        FROM per_doc GROUP BY source
    """,
    doc=(
        "CHARACTER ERROR RATE per source — the ALIGNMENT-based "
        "generation metric beside the overlap-based BLEU/chrF pair: "
        "edit distance charges word-order scrambles and placement "
        "errors that bag-of-n-gram overlap forgives (a candidate with "
        "every n-gram present but shuffled scores high overlap, high "
        "CER). Levenshtein distance between the reference text and the "
        f"deterministic candidate (every {_CER_DROP}th token removed — "
        "a third, independent corruption period), both projected to "
        "printable ASCII first because the two engines' built-in "
        "levenshtein units differ off ASCII (Spark counts characters, "
        "DuckDB counts UTF-8 bytes; on the projection they provably "
        "agree for any input). Per-source totals (docs, edit "
        "operations, reference characters) are EXACT BIGINTs; CER = "
        "edits/chars is the one mirrored rounded column. Plan: one "
        "corpus scan, the DP runs inside whole-stage codegen per row "
        "(O(|cand|*|ref|) per document — fine at document lengths; "
        "book-length texts should chunk first, the CDC operator's "
        "job), one |sources|-row aggregate; nothing shuffles but "
        "partial aggregates at any corpus size."
    ),
    tags=("evals", "llm", "text", "generation"),
)
def cer_generation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    cand = F.array_join(
        F.filter(toks, lambda t, i: (i + 1) % _CER_DROP != 0), " "
    )
    ref_s = F.regexp_replace(F.array_join(toks, " "), _CER_PROJ, "#")
    cand_s = F.regexp_replace(cand, _CER_PROJ, "#")
    per_doc = docs.select(
        "source",
        F.levenshtein(cand_s, ref_s).cast("bigint").alias("edits"),
        F.length(ref_s).cast("bigint").alias("ref_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("edits").cast("bigint").alias("total_edits"),
        F.sum("ref_chars").cast("bigint").alias("total_ref_chars"),
        F.round(
            F.sum("edits") * F.lit(1.0) / F.sum("ref_chars"), 6
        ).alias("cer"),
    )


# ---------------------------------------------------------------------------
# Round 9: Hanley-McNeil AUC confidence interval, covariate-balance SMD,
# fixed-effect meta-analysis, and the SPRT sequential monitor — the
# inference-layer completions of the AUC / experimentation families.
# ---------------------------------------------------------------------------

_HM_Z = 1.96  # 95% normal quantile, literal in both engines


@register(
    "auc_hanley_mcneil_ci",
    oracle=f"""
        WITH {_AUC_RUN_CTES},
        a AS (
            SELECT n_pos, n_neg,
                   SUM(pos * (neg_below + 0.5 * neg))
                       / (n_pos * 1.0 * n_neg) AS auc
            FROM run GROUP BY n_pos, n_neg
        ),
        se AS (
            SELECT n_pos, n_neg, auc,
                   SQRT((auc * (1.0 - auc)
                         + (n_pos - 1) * (auc / (2.0 - auc) - auc * auc)
                         + (n_neg - 1) * (2.0 * auc * auc / (1.0 + auc)
                                          - auc * auc))
                        / (n_pos * 1.0 * n_neg)) AS se_hm
            FROM a
        )
        SELECT n_pos, n_neg,
               ROUND(auc, 6) AS auc,
               ROUND(se_hm, 6) AS se_hm,
               ROUND(auc - {_HM_Z} * se_hm, 6) AS ci_low,
               ROUND(auc + {_HM_Z} * se_hm, 6) AS ci_high
        FROM se
    """,
    doc=(
        "HANLEY-McNEIL 95% CONFIDENCE INTERVAL around the exact "
        "distributed AUC — the uncertainty layer roc_auc_exact lacks "
        "(an AUC of 0.61 on 300 positives and 0.61 on 3M positives are "
        "different findings; the CI says which): SE^2 = (A(1-A) + "
        "(n_pos-1)(Q1-A^2) + (n_neg-1)(Q2-A^2)) / (n_pos n_neg) with "
        "the classic exponential-family closed forms Q1 = A/(2-A), "
        "Q2 = 2A^2/(1+A) (Hanley-McNeil 1982 — the documented "
        "approximation the field quotes; exact DeLong needs per-"
        "observation placements). Reuses roc_auc_exact's bounded "
        "4-dp score grid verbatim — the one ordered window is "
        "<=10^4 rows at any corpus size — and appends pure closed-form "
        "arithmetic; z = 1.96 is a shared literal. One documents scan, "
        "one hash aggregate, grid-sized everything after."
    ),
    tags=("evals", "llm", "statistics"),
)
def auc_hanley_mcneil_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = _auc_run(spark, sf_dir)
    a = run.groupBy("n_pos", "n_neg").agg(
        (
            F.sum(F.col("pos") * (F.col("neg_below") + 0.5 * F.col("neg")))
            / (F.col("n_pos") * F.lit(1.0) * F.col("n_neg"))
        ).alias("auc")
    )
    auc = F.col("auc")
    q1 = auc / (F.lit(2.0) - auc)
    q2 = F.lit(2.0) * auc * auc / (F.lit(1.0) + auc)
    se = F.sqrt(
        (
            auc * (F.lit(1.0) - auc)
            + (F.col("n_pos") - 1) * (q1 - auc * auc)
            + (F.col("n_neg") - 1) * (q2 - auc * auc)
        )
        / (F.col("n_pos") * F.lit(1.0) * F.col("n_neg"))
    )
    withse = a.select("n_pos", "n_neg", "auc", se.alias("se_hm"))
    return withse.select(
        "n_pos",
        "n_neg",
        F.round(F.col("auc"), 6).alias("auc"),
        F.round(F.col("se_hm"), 6).alias("se_hm"),
        F.round(F.col("auc") - F.lit(_HM_Z) * F.col("se_hm"), 6).alias(
            "ci_low"
        ),
        F.round(F.col("auc") + F.lit(_HM_Z) * F.col("se_hm"), 6).alias(
            "ci_high"
        ),
    )


_SMD_FLAG = 0.1  # the conventional imbalance threshold


@register(
    "smd_covariate_balance",
    oracle=f"""
        WITH span AS (
            SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
                   CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
            FROM events
        ),
        pre AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clicks,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                        AS value_cents
            FROM events CROSS JOIN span
            WHERE 2 * epoch_us(ts) < lo + hi
            GROUP BY user_id
        ),
        armed AS (
            SELECT {_ARM_SQL} AS arm, n_events, n_clicks, value_cents
            FROM pre
        ),
        mom AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_events) AS BIGINT) AS s1,
                   CAST(SUM(n_events * n_events) AS BIGINT) AS ss1,
                   CAST(SUM(n_clicks) AS BIGINT) AS s2,
                   CAST(SUM(n_clicks * n_clicks) AS BIGINT) AS ss2,
                   CAST(SUM(value_cents) AS BIGINT) AS s3,
                   CAST(SUM(value_cents * value_cents) AS BIGINT) AS ss3
            FROM armed GROUP BY arm
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN arm = 0 THEN n END) AS n0,
                MAX(CASE WHEN arm = 1 THEN n END) AS n1,
                MAX(CASE WHEN arm = 0 THEN s1 END) AS s1_0,
                MAX(CASE WHEN arm = 1 THEN s1 END) AS s1_1,
                MAX(CASE WHEN arm = 0 THEN ss1 END) AS ss1_0,
                MAX(CASE WHEN arm = 1 THEN ss1 END) AS ss1_1,
                MAX(CASE WHEN arm = 0 THEN s2 END) AS s2_0,
                MAX(CASE WHEN arm = 1 THEN s2 END) AS s2_1,
                MAX(CASE WHEN arm = 0 THEN ss2 END) AS ss2_0,
                MAX(CASE WHEN arm = 1 THEN ss2 END) AS ss2_1,
                MAX(CASE WHEN arm = 0 THEN s3 END) AS s3_0,
                MAX(CASE WHEN arm = 1 THEN s3 END) AS s3_1,
                MAX(CASE WHEN arm = 0 THEN ss3 END) AS ss3_0,
                MAX(CASE WHEN arm = 1 THEN ss3 END) AS ss3_1
            FROM mom
        ),
        longf AS (
            SELECT 'pre_events' AS covariate,
                   n0, n1, s1_0 AS s0, s1_1 AS s1x, ss1_0 AS ss0,
                   ss1_1 AS ss1x
            FROM wide
            UNION ALL
            SELECT 'pre_clicks', n0, n1, s2_0, s2_1, ss2_0, ss2_1 FROM wide
            UNION ALL
            SELECT 'pre_value_cents', n0, n1, s3_0, s3_1, ss3_0, ss3_1
            FROM wide
        )
        SELECT covariate, n0 AS n_control, n1 AS n_treat,
               ROUND(s0 * 1.0 / n0, 6) AS mean_control,
               ROUND(s1x * 1.0 / n1, 6) AS mean_treat,
               ROUND((s1x * 1.0 / n1 - s0 * 1.0 / n0)
                     / SQRT((((ss0 - s0 * 1.0 * s0 / n0) / (n0 - 1))
                             + ((ss1x - s1x * 1.0 * s1x / n1) / (n1 - 1)))
                            / 2.0), 6) AS smd,
               CASE WHEN ABS((s1x * 1.0 / n1 - s0 * 1.0 / n0)
                     / SQRT((((ss0 - s0 * 1.0 * s0 / n0) / (n0 - 1))
                             + ((ss1x - s1x * 1.0 * s1x / n1) / (n1 - 1)))
                            / 2.0)) > {_SMD_FLAG}
                    THEN 1 ELSE 0 END AS imbalanced
        FROM longf
    """,
    doc=(
        "STANDARDIZED-MEAN-DIFFERENCE COVARIATE BALANCE CHECK between "
        "the deterministic experiment arms over PRE-PERIOD covariates "
        "(events, clicks, integer-cents value in the first half of the "
        "observation span — split on an exact integer epoch-microsecond "
        "midpoint "
        "so both engines cut identically): SMD = (mean_t - mean_c) / "
        "sqrt((var_t + var_c)/2) per covariate, |SMD| > 0.1 flagged — "
        "the table every experiment readout should show FIRST, because "
        "a randomization that failed balance invalidates the lift "
        "downstream (the design-stage companion to "
        "sample_ratio_mismatch_check: SRM tests assignment COUNTS, "
        "this tests assignment COVARIATES). All moments are exact "
        "BIGINTs from one per-user aggregate + one 2-row arm rollup; "
        "the long-form pivot is over three literal covariate rows. At "
        "100 TB the per-user aggregate is the only shuffle."
    ),
    tags=("evals", "statistics", "experimentation"),
)
def smd_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("lo"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("hi"),
    )
    pre = (
        ev.crossJoin(F.broadcast(span))
        .filter(2 * F.unix_micros("ts") < F.col("lo") + F.col("hi"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("n_clicks"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )
    armed = pre.select(
        _arm(F.col("user_id")).alias("arm"),
        "n_events",
        "n_clicks",
        "value_cents",
    )
    mom = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("ss1"),
        F.sum("n_clicks").cast("bigint").alias("s2"),
        F.sum(F.col("n_clicks") * F.col("n_clicks")).cast("bigint").alias("ss2"),
        F.sum("value_cents").cast("bigint").alias("s3"),
        F.sum(F.col("value_cents") * F.col("value_cents"))
        .cast("bigint")
        .alias("ss3"),
    )

    def pick(col: str, arm: int):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    wide = mom.agg(
        pick("n", 0).alias("n0"),
        pick("n", 1).alias("n1"),
        *[
            pick(c, a).alias(f"{c}_{a}")
            for c in ("s1", "ss1", "s2", "ss2", "s3", "ss3")
            for a in (0, 1)
        ],
    )
    rows = []
    for name, s, ss in (
        ("pre_events", "s1", "ss1"),
        ("pre_clicks", "s2", "ss2"),
        ("pre_value_cents", "s3", "ss3"),
    ):
        rows.append(
            wide.select(
                F.lit(name).alias("covariate"),
                F.col("n0"),
                F.col("n1"),
                F.col(f"{s}_0").alias("s0"),
                F.col(f"{s}_1").alias("s1x"),
                F.col(f"{ss}_0").alias("ss0"),
                F.col(f"{ss}_1").alias("ss1x"),
            )
        )
    longf = rows[0].unionAll(rows[1]).unionAll(rows[2])
    m0 = F.col("s0") * F.lit(1.0) / F.col("n0")
    m1 = F.col("s1x") * F.lit(1.0) / F.col("n1")
    v0 = (F.col("ss0") - F.col("s0") * F.lit(1.0) * F.col("s0") / F.col("n0")) / (
        F.col("n0") - 1
    )
    v1 = (
        F.col("ss1x") - F.col("s1x") * F.lit(1.0) * F.col("s1x") / F.col("n1")
    ) / (F.col("n1") - 1)
    smd = (m1 - m0) / F.sqrt((v0 + v1) / F.lit(2.0))
    return longf.select(
        "covariate",
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treat"),
        F.round(m0, 6).alias("mean_control"),
        F.round(m1, 6).alias("mean_treat"),
        F.round(smd, 6).alias("smd"),
        F.when(F.abs(smd) > _SMD_FLAG, 1).otherwise(0).alias("imbalanced"),
    )


@register(
    "meta_analysis_fixed_effect",
    oracle=f"""
        WITH {_SCORE_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,")},
        lifted AS (
            SELECT source,
                   CAST(ROUND(score * 10000) AS BIGINT) AS s4
            FROM scored
        ),
        studies AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(s4) AS BIGINT) AS s,
                   CAST(SUM(s4 * s4) AS BIGINT) AS ss
            FROM lifted GROUP BY source
        ),
        eff AS (
            -- precondition (r9 ADVICE): a 1-document study has no sample
            -- variance (division by n-1 = 0 -> NULL), and one NULL would
            -- poison every whole-frame window below; exclude it instead
            -- of silently degrading the entire result.
            SELECT source, n_docs,
                   s * 1.0 / n_docs / 10000.0 AS effect,
                   ((ss - s * 1.0 * s / n_docs) / (n_docs - 1))
                       / n_docs / 1e8 AS variance
            FROM studies
            WHERE n_docs >= 2
        ),
        pooledw AS (
            SELECT source, n_docs, effect, variance,
                   1.0 / variance AS w,
                   SUM(1.0 / variance) OVER () AS sw,
                   SUM(effect / variance) OVER () AS swe,
                   CAST(COUNT(*) OVER () AS BIGINT) AS k
            FROM eff
        )
        SELECT source, n_docs,
               ROUND(effect, 6) AS effect,
               ROUND(variance, 10) AS variance,
               ROUND(w / sw, 6) AS weight_share,
               ROUND(swe / sw, 6) AS pooled_effect,
               ROUND(SUM((effect - swe / sw) * (effect - swe / sw) * w)
                         OVER (), 6) AS cochran_q_het,
               CAST(k - 1 AS BIGINT) AS df,
               ROUND(GREATEST(
                   (SUM((effect - swe / sw) * (effect - swe / sw) * w)
                        OVER () - (k - 1))
                   / SUM((effect - swe / sw) * (effect - swe / sw) * w)
                        OVER (), 0.0) * 100.0, 6) AS i2_pct
        FROM pooledw
    """,
    doc=(
        "FIXED-EFFECT META-ANALYSIS of the per-source quality-score "
        "means: each source is a 'study' with effect = its mean 4-dp "
        "lexical-diversity score and variance = s^2/n, pooled by "
        "inverse-variance weights (the precision-weighted average that "
        "is optimal when one true effect underlies all sources), with "
        "Cochran's Q heterogeneity (weighted squared deviations from "
        "the pooled effect — NOT the same statistic as the registered "
        "cochran_q_screens, which tests correlated binary screens) and "
        "Higgins' I^2 = max(0, (Q - df)/Q) as the share of variation "
        "beyond chance — the 'is per-source quality one number or many' "
        "decision that gates whether a single corpus-wide quality "
        "threshold is defensible. PRECONDITION: only sources with "
        ">= 2 documents enter the pool (a 1-doc study has undefined "
        "sample variance; one NULL would poison the whole-frame "
        "windows) — filtered identically in both engines. Moments are "
        "exact BIGINTs of the "
        "10^4-lifted rounded scores from ONE scan; the pooled/Q/I2 "
        "columns are whole-frame windows over the bounded source grid "
        "(~20 rows). At 100 TB the per-source aggregate is the only "
        "shuffle."
    ),
    tags=("evals", "statistics", "window"),
)
def meta_analysis_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 4
    )
    lifted = docs.select(
        "source",
        F.round(score * 10000).cast("bigint").alias("s4"),
    )
    studies = lifted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("s4").cast("bigint").alias("s"),
        F.sum(F.col("s4") * F.col("s4")).cast("bigint").alias("ss"),
    )
    # precondition (mirrors the oracle): n_docs >= 2 — a single-document
    # study has undefined sample variance and would NULL the whole-frame
    # pooled/Q/I2 windows for every row.
    eff = studies.where(F.col("n_docs") >= 2).select(
        "source",
        "n_docs",
        (F.col("s") * F.lit(1.0) / F.col("n_docs") / F.lit(10000.0)).alias(
            "effect"
        ),
        (
            (
                (
                    F.col("ss")
                    - F.col("s") * F.lit(1.0) * F.col("s") / F.col("n_docs")
                )
                / (F.col("n_docs") - 1)
            )
            / F.col("n_docs")
            / F.lit(1e8)
        ).alias("variance"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = F.lit(1.0) / F.col("variance")
    pooledw = eff.select(
        "source",
        "n_docs",
        "effect",
        "variance",
        w.alias("w"),
        F.sum(w).over(w_all).alias("sw"),
        F.sum(F.col("effect") / F.col("variance")).over(w_all).alias("swe"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("k"),
    )
    pooled = F.col("swe") / F.col("sw")
    q = F.sum((F.col("effect") - pooled) * (F.col("effect") - pooled) * F.col("w")).over(
        w_all
    )
    return pooledw.select(
        "source",
        "n_docs",
        F.round(F.col("effect"), 6).alias("effect"),
        F.round(F.col("variance"), 10).alias("variance"),
        F.round(F.col("w") / F.col("sw"), 6).alias("weight_share"),
        F.round(pooled, 6).alias("pooled_effect"),
        F.round(q, 6).alias("cochran_q_het"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.round(
            F.greatest((q - (F.col("k") - 1)) / q, F.lit(0.0)) * F.lit(100.0),
            6,
        ).alias("i2_pct"),
    )


# SPRT (Wald 1945) sequential conversion monitor: H0 p=0.30 vs H1 p=0.35,
# alpha = beta = 0.05. The per-observation log-likelihood increments and
# the two decision boundaries are Python-computed literals baked into
# BOTH plans (repr round-trips to the identical IEEE double in each
# engine), so no libm call differs.
_SPRT_P0, _SPRT_P1 = 0.30, 0.35
_SPRT_LA = math.log(_SPRT_P1 / _SPRT_P0)  # conversion increment
_SPRT_LB = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))  # miss increment
_SPRT_UP = math.log(19.0)  # ln((1-beta)/alpha), alpha=beta=0.05
_SPRT_LOW = -math.log(19.0)


@register(
    "sprt_conversion_monitor",
    oracle=f"""
        WITH ud AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        grid AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS trials,
                   CAST(SUM(converted) AS BIGINT) AS conversions
            FROM ud GROUP BY d
        ),
        cum AS (
            -- BIGINT running counts, closed-form LLR (r9 ADVICE): a float
            -- window SUM of per-day double increments accumulates in
            -- engine-specific order (DuckDB's tree-order sum flipped one
            -- 6-dp rounding on the sibling streaming monitor at sf0.1);
            -- llr = s*LA + (t-s)*LB over integer window sums is order-free.
            SELECT d, trials, conversions,
                   SUM(conversions) OVER (
                       ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_conv,
                   SUM(trials) OVER (
                       ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_trials
            FROM grid
        ),
        run AS (
            SELECT d, trials, conversions,
                   cum_conv * {_SPRT_LA!r}
                       + (cum_trials - cum_conv) * {_SPRT_LB!r} AS llr
            FROM cum
        ),
        crossed AS (
            SELECT d, trials, conversions, llr,
                   MIN(CASE WHEN llr >= {_SPRT_UP!r} THEN d END) OVER ()
                       AS first_up,
                   MIN(CASE WHEN llr <= {_SPRT_LOW!r} THEN d END) OVER ()
                       AS first_low
            FROM run
        )
        SELECT d, trials, conversions, ROUND(llr, 6) AS llr,
               CASE
                   WHEN first_up IS NOT NULL
                        AND (first_low IS NULL OR first_up <= first_low)
                       THEN 'accept_h1'
                   WHEN first_low IS NOT NULL THEN 'accept_h0'
                   ELSE 'continue'
               END AS final_decision,
               CASE WHEN first_up IS NOT NULL
                         AND (first_low IS NULL OR first_up <= first_low)
                    THEN first_up ELSE first_low END AS decided_on
        FROM crossed
    """,
    doc=(
        "WALD SPRT SEQUENTIAL CONVERSION MONITOR over the daily grid — "
        "the sequentially-VALID decision rule the ab_conversion_lift "
        "docstring promises downstream (peeking at a fixed-horizon z "
        "test inflates false positives; the SPRT's log-likelihood "
        "random walk with ln((1-b)/a) boundaries is the classic "
        "always-valid alternative): each user-day is a Bernoulli trial "
        "(converted = any purchase that day), the cumulative LLR for "
        "H1 p=0.35 vs H0 p=0.30 runs over the bounded day grid, and "
        "the decision is the FIRST boundary crossing (earlier crossing "
        "wins when both occur). The per-trial increments and "
        "boundaries are Python-computed literals baked identically "
        "into both engines' plans, the LLR is the CLOSED FORM "
        "s*LA + (t-s)*LB over exact BIGINT running counts (order-free "
        "— a float window sum of double increments accumulates in "
        "engine-specific order, the divergence the sibling "
        "streaming_sprt_monitor documented and fixed), and the "
        "first-crossing days are whole-frame conditional MINs over the "
        "same grid. One (user, day) hash aggregate is the only "
        "corpus-scale shuffle at 100 TB; the monitor itself is "
        "grid-sized and incrementally maintainable."
    ),
    tags=("evals", "statistics", "experimentation", "window"),
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    grid = ud.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("trials"),
        F.sum("converted").cast("bigint").alias("conversions"),
    )
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # Closed-form LLR from BIGINT window sums (r9 ADVICE, mirroring the
    # streaming_sprt_monitor fix): the running counts are exact integers,
    # so llr = s*LA + (t-s)*LB is the same double in both engines
    # regardless of window-accumulation order.
    cum = grid.select(
        "d",
        "trials",
        "conversions",
        F.sum("conversions").over(w_run).alias("cum_conv"),
        F.sum("trials").over(w_run).alias("cum_trials"),
    )
    run = cum.select(
        "d",
        "trials",
        "conversions",
        (
            F.col("cum_conv") * F.lit(_SPRT_LA)
            + (F.col("cum_trials") - F.col("cum_conv")) * F.lit(_SPRT_LB)
        ).alias("llr"),
    )
    crossed = run.select(
        "d",
        "trials",
        "conversions",
        "llr",
        F.min(F.when(F.col("llr") >= _SPRT_UP, F.col("d")))
        .over(w_all)
        .alias("first_up"),
        F.min(F.when(F.col("llr") <= _SPRT_LOW, F.col("d")))
        .over(w_all)
        .alias("first_low"),
    )
    up_wins = F.col("first_up").isNotNull() & (
        F.col("first_low").isNull() | (F.col("first_up") <= F.col("first_low"))
    )
    return crossed.select(
        "d",
        "trials",
        "conversions",
        F.round(F.col("llr"), 6).alias("llr"),
        F.when(up_wins, F.lit("accept_h1"))
        .when(F.col("first_low").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("final_decision"),
        F.when(up_wins, F.col("first_up"))
        .otherwise(F.col("first_low"))
        .alias("decided_on"),
    )


@register(
    "mantel_haenszel_pooled_or",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_cust
            FROM spend
        ),
        labeled AS (
            SELECT n.n_name AS stratum,
                   (((s.o_custkey % {_MOD}) * {_KNUTH}) >> 16) % 2 AS exposed,
                   -- integer cross-multiply: spend >= mean without division
                   CASE WHEN s.cents * t.n_cust >= t.total_cents
                        THEN 1 ELSE 0 END AS outcome
            FROM spend s
            JOIN customer c ON s.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            CROSS JOIN tot t
        ),
        cells AS (
            SELECT stratum,
                   CAST(SUM(exposed * outcome) AS BIGINT) AS a,
                   CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
                   CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
                   CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
            FROM labeled GROUP BY stratum
        ),
        terms AS (
            SELECT stratum, a, b, c, d,
                   a + b + c + d AS n,
                   a * 1.0 * d / (a + b + c + d) AS ad_n,
                   b * 1.0 * c / (a + b + c + d) AS bc_n,
                   (a + b) * 1.0 * (a + c) / (a + b + c + d) AS e_a,
                   CASE WHEN a + b + c + d > 1 THEN
                       (a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                       / ((a + b + c + d) * 1.0 * (a + b + c + d)
                          * (a + b + c + d - 1))
                   ELSE 0.0 END AS v_a
            FROM cells
        )
        SELECT stratum, a, b, c, d,
               ROUND(SUM(ad_n) OVER () / SUM(bc_n) OVER (), 6) AS mh_or,
               ROUND((ABS(SUM(a) OVER () - SUM(e_a) OVER ()) - 0.5)
                     * (ABS(SUM(a) OVER () - SUM(e_a) OVER ()) - 0.5)
                     / SUM(v_a) OVER (), 6) AS mh_chi2,
               ROUND(CASE WHEN a * d > 0 AND b * c > 0
                          THEN a * 1.0 * d / (b * 1.0 * c) END, 6)
                   AS stratum_or
        FROM terms
    """,
    doc=(
        "MANTEL-HAENSZEL POOLED ODDS RATIO across nation strata — the "
        "stratified 2x2 estimator that ANSWERS the registered "
        "simpson_paradox_detector (Simpson's detector says 'the "
        "aggregate direction is confounded by segment'; MH says what "
        "the common within-stratum association actually is, weighting "
        "each stratum by b*c/n): exposure = the deterministic Knuth "
        "arm, outcome = customer lifetime spend at or above the mean "
        "(the comparison is an exact integer cross-multiplication "
        "spend*n >= total — no division, no float, no tie ambiguity), "
        "strata = customer nations. MH OR = sum(ad/n)/sum(bc/n) with "
        "the continuity-corrected MH chi-square from exact "
        "hypergeometric moments. All 2x2 cells are exact BIGINTs from "
        "one per-customer aggregate joined to customer (optimizer-"
        "chosen strategy — customer is corpus-scale, never hinted "
        "broadcast) + broadcast nation/total dims; the "
        "pooled columns are whole-frame windows over the ~25-row "
        "nation grid. Under the null (hash arms are exchangeable) the "
        "expected OR is ~1 — the operator certifies the machinery, "
        "not a finding. At 100 TB the per-customer aggregate is the "
        "only corpus-scale shuffle."
    ),
    tags=("evals", "statistics", "experimentation", "window"),
)
def mantel_haenszel_pooled_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = spend.agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
    )
    # customer is corpus-scale (one row per customer, same cardinality as
    # the spend aggregate) — no broadcast hint; the optimizer picks the
    # join strategy. nation (~25 rows) and tot (1 row) stay broadcast.
    labeled = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_name").alias("stratum"),
            _arm(F.col("o_custkey")).alias("exposed"),
            F.when(
                F.col("cents") * F.col("n_cust") >= F.col("total_cents"), 1
            )
            .otherwise(0)
            .alias("outcome"),
        )
    )
    cells = labeled.groupBy("stratum").agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome"))
        .cast("bigint")
        .alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        (F.col("a") * F.lit(1.0) * F.col("d") / n).alias("ad_n"),
        (F.col("b") * F.lit(1.0) * F.col("c") / n).alias("bc_n"),
        (
            (F.col("a") + F.col("b"))
            * F.lit(1.0)
            * (F.col("a") + F.col("c"))
            / n
        ).alias("e_a"),
        F.when(
            n > 1,
            (F.col("a") + F.col("b"))
            * F.lit(1.0)
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (n * F.lit(1.0) * n * (n - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("v_a"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dev = F.abs(
        F.sum("a").over(w_all) - F.sum("e_a").over(w_all)
    ) - F.lit(0.5)
    return terms.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        F.round(
            F.sum("ad_n").over(w_all) / F.sum("bc_n").over(w_all), 6
        ).alias("mh_or"),
        F.round(dev * dev / F.sum("v_a").over(w_all), 6).alias("mh_chi2"),
        F.round(
            F.when(
                (F.col("a") * F.col("d") > 0) & (F.col("b") * F.col("c") > 0),
                F.col("a")
                * F.lit(1.0)
                * F.col("d")
                / (F.col("b") * F.lit(1.0) * F.col("c")),
            ),
            6,
        ).alias("stratum_or"),
    )


@register(
    "wilson_score_intervals",
    oracle=f"""
        WITH arms AS (
            SELECT user_id,
                   {_ARM_SQL} AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                             >= {_CONV_SHARE}
                        THEN 1 ELSE 0 END AS converted
            FROM events
            GROUP BY user_id
        ),
        per_arm AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(converted) AS BIGINT) AS conv
            FROM arms GROUP BY arm
        ),
        p AS (
            SELECT arm, n, conv, conv * 1.0 / n AS rate,
                   {_HM_Z} * {_HM_Z} AS z2
            FROM per_arm
        )
        SELECT arm, n, conv,
               ROUND(rate, 6) AS rate,
               ROUND((rate + z2 / (2.0 * n)
                      - {_HM_Z} * SQRT(rate * (1.0 - rate) / n
                                       + z2 / (4.0 * n * n)))
                     / (1.0 + z2 / n), 6) AS wilson_low,
               ROUND((rate + z2 / (2.0 * n)
                      + {_HM_Z} * SQRT(rate * (1.0 - rate) / n
                                       + z2 / (4.0 * n * n)))
                     / (1.0 + z2 / n), 6) AS wilson_high,
               ROUND(rate - {_HM_Z} * SQRT(rate * (1.0 - rate) / n), 6)
                   AS wald_low,
               ROUND(rate + {_HM_Z} * SQRT(rate * (1.0 - rate) / n), 6)
                   AS wald_high
        FROM p
    """,
    doc=(
        "WILSON SCORE 95% INTERVALS for each arm's conversion rate — "
        "the binomial interval that stays inside [0,1] and keeps "
        "near-nominal coverage at extreme rates and small n, where "
        "the Wald interval (emitted alongside for comparison) "
        "collapses to zero width at p=0/1 and undercovers everywhere "
        "near the edges (Brown-Cai-DasGupta 2001 — 'use Wilson or "
        "Agresti-Coull, never Wald'): invert the score test, center "
        "(p + z^2/2n)/(1 + z^2/n), half-width z*sqrt(p(1-p)/n + "
        "z^2/4n^2)/(1 + z^2/n), z = 1.96 shared literal. The "
        "per-rate uncertainty layer beside ab_conversion_lift's "
        "difference z-test, from the SAME deterministic arm/conversion "
        "construction. One per-user hash aggregate + a 2-row rollup; "
        "closed-form arithmetic after."
    ),
    tags=("evals", "statistics", "experimentation"),
)
def wilson_score_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(_arm(F.col("user_id")).alias("arm"), "converted")
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    rate = F.col("conv") * F.lit(1.0) / F.col("n")
    z2 = F.lit(_HM_Z * _HM_Z)
    nn = F.col("n")
    half = F.lit(_HM_Z) * F.sqrt(
        rate * (F.lit(1.0) - rate) / nn + z2 / (F.lit(4.0) * nn * nn)
    )
    denom = F.lit(1.0) + z2 / nn
    wald_half = F.lit(_HM_Z) * F.sqrt(rate * (F.lit(1.0) - rate) / nn)
    return per_arm.select(
        "arm",
        "n",
        "conv",
        F.round(rate, 6).alias("rate"),
        F.round((rate + z2 / (F.lit(2.0) * nn) - half) / denom, 6).alias(
            "wilson_low"
        ),
        F.round((rate + z2 / (F.lit(2.0) * nn) + half) / denom, 6).alias(
            "wilson_high"
        ),
        F.round(rate - wald_half, 6).alias("wald_low"),
        F.round(rate + wald_half, 6).alias("wald_high"),
    )


_CA_BIN = 20  # activity-level bin width (events per user)
_CA_MAX = 4  # highest ordinal level (5 levels, 0..4)


@register(
    "cochran_armitage_trend",
    oracle=f"""
        WITH users AS (
            SELECT user_id,
                   LEAST(CAST(FLOOR(COUNT(*) / {_CA_BIN}) AS BIGINT),
                         {_CA_MAX}) AS lvl,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                             >= {_CONV_SHARE}
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT lvl,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(converted) AS BIGINT) AS r_i
            FROM users GROUP BY lvl
        ),
        tot AS (
            SELECT CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(r_i) AS BIGINT) AS r,
                   CAST(SUM(lvl * r_i) AS BIGINT) AS wr,
                   CAST(SUM(lvl * n_i) AS BIGINT) AS wn,
                   CAST(SUM(lvl * lvl * n_i) AS BIGINT) AS wwn
            FROM cells
        ),
        stat AS (
            SELECT n, r, wr, wn, wwn,
                   -- T = sum w_i (r_i - n_i R/N), x N lift: N*wr - R*wn
                   (n * wr - r * wn) * 1.0 / n AS t_stat,
                   (r * 1.0 / n) * (1.0 - r * 1.0 / n)
                   * (wwn - wn * 1.0 * wn / n) AS var_t
            FROM tot
        ),
        zed AS (
            SELECT n, r, t_stat, var_t, t_stat / SQRT(var_t) AS z FROM stat
        )
        SELECT n AS n_users, r AS n_converted,
               ROUND(t_stat, 6) AS t_stat,
               ROUND(var_t, 6) AS var_t,
               ROUND(z, 6) AS z_score,
               ROUND(2.0 * {normal_sf_sql("abs(z)")}, 6) AS p_value
        FROM zed
    """,
    doc=(
        "COCHRAN-ARMITAGE TREND TEST: does conversion propensity trend "
        "MONOTONICALLY across ordered user-activity levels (event "
        f"count binned in steps of {_CA_BIN}, capped at level "
        f"{_CA_MAX})? The binary-outcome member of the ordered-"
        "alternative family (Jonckheere-Terpstra handles a continuous "
        "response; CA is its 2xK contingency specialization, the test "
        "dose-response and engagement-ladder questions actually need): "
        "T = sum w_i (r_i - n_i R/N) with integer scores w_i = level, "
        "Var(T) = p(1-p)(sum w^2 n - (sum w n)^2/N), z = T/sqrt(Var), "
        "two-sided A&S p. The T numerator is computed as the exact "
        "integer lift N*sum(w r) - R*sum(w n) divided once by N. One "
        "per-user hash aggregate -> a 5-row level table -> closed "
        "forms; nothing else shuffles at 100 TB."
    ),
    tags=("evals", "statistics", "experimentation"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.least(
            F.floor(F.count(F.lit(1)) / _CA_BIN).cast("bigint"),
            F.lit(_CA_MAX).cast("bigint"),
        ).alias("lvl"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
            >= _CONV_SHARE,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    cells = users.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("converted").cast("bigint").alias("r_i"),
    )
    tot = cells.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("lvl") * F.col("r_i")).cast("bigint").alias("wr"),
        F.sum(F.col("lvl") * F.col("n_i")).cast("bigint").alias("wn"),
        F.sum(F.col("lvl") * F.col("lvl") * F.col("n_i"))
        .cast("bigint")
        .alias("wwn"),
    )
    p = F.col("r") * F.lit(1.0) / F.col("n")
    t_stat = (F.col("n") * F.col("wr") - F.col("r") * F.col("wn")) * F.lit(
        1.0
    ) / F.col("n")
    var_t = (
        p
        * (F.lit(1.0) - p)
        * (F.col("wwn") - F.col("wn") * F.lit(1.0) * F.col("wn") / F.col("n"))
    )
    stat = tot.select(
        "n", "r", t_stat.alias("t_stat"), var_t.alias("var_t")
    )
    from weather_stream_processor_spark.operators._normal_tail import (
        normal_sf_col,
    )

    z = F.col("t_stat") / F.sqrt(F.col("var_t"))
    sf = normal_sf_col(F.abs(z))
    return stat.select(
        F.col("n").alias("n_users"),
        F.col("r").alias("n_converted"),
        F.round(F.col("t_stat"), 6).alias("t_stat"),
        F.round(F.col("var_t"), 6).alias("var_t"),
        F.round(z, 6).alias("z_score"),
        F.round(F.lit(2.0) * sf, 6).alias("p_value"),
    )


@register(
    "bland_altman_agreement",
    oracle=f"""
        WITH detail AS (
            SELECT l_orderkey AS ok,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS detail_cents
            FROM lineitem GROUP BY l_orderkey
        ),
        paired AS (
            SELECT o.o_orderkey,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS header_cents,
                   d.detail_cents,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                       - d.detail_cents AS diff_cents
            FROM orders o JOIN detail d ON o.o_orderkey = d.ok
        ),
        mom AS (
            -- squared diffs overflow int64 at sf0.1 (~5e19): accumulate
            -- in HUGEINT (Spark: DECIMAL(38,0)) and convert to double
            -- once, the linear-CKA exact-moment pattern
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(diff_cents) AS BIGINT) AS s,
                   SUM(CAST(diff_cents AS HUGEINT) * diff_cents) AS ss
            FROM paired
        ),
        lim AS (
            SELECT n, s,
                   s * 1.0 / n AS bias,
                   SQRT((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1)) AS sd
            FROM mom
        ),
        outside AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_outside
            FROM paired p CROSS JOIN lim
            WHERE p.diff_cents < lim.bias - {_HM_Z} * lim.sd
               OR p.diff_cents > lim.bias + {_HM_Z} * lim.sd
        )
        SELECT l.n AS n_orders,
               ROUND(l.bias, 2) AS bias_cents,
               ROUND(l.sd, 2) AS sd_cents,
               ROUND(l.bias - {_HM_Z} * l.sd, 2) AS loa_low,
               ROUND(l.bias + {_HM_Z} * l.sd, 2) AS loa_high,
               o.n_outside,
               ROUND(o.n_outside * 1.0 / l.n, 6) AS share_outside
        FROM lim l CROSS JOIN outside o
    """,
    doc=(
        "BLAND-ALTMAN AGREEMENT ANALYSIS between two measurements of "
        "the same quantity — the order HEADER total (o_totalprice) vs "
        "the DETAIL sum of its line items — the method-comparison "
        "statistic (Bland-Altman 1986) that answers 'do two pipelines "
        "measuring the same thing agree, and within what limits' where "
        "a correlation coefficient deceives (two systematically-offset "
        "measures correlate perfectly): bias = mean difference in "
        "exact integer cents, limits of agreement = bias +- 1.96 sd, "
        "and the share of orders outside the LoA. This is the "
        "header-vs-detail reconciliation audit every warehouse runs, "
        "with the agreement statistics attached (rounded at 2dp — "
        "sub-cent digits would be false precision). Difference moments "
        "are exact integers (the squared sum in DECIMAL(38,0)/HUGEINT "
        "since it overflows int64 at scale) from one per-order "
        "aggregate + one "
        "broadcast equi-join; the outside-count comparison evaluates "
        "the same double threshold in both engines. Two corpus-scale "
        "hash aggregates (detail rollup, diff moments) at 100 TB."
    ),
    tags=("evals", "statistics", "quality"),
)
def bland_altman_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    detail = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("detail_cents")
    )
    paired = o.join(detail, o.o_orderkey == detail.ok).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("header_cents"),
        "detail_cents",
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            - F.col("detail_cents")
        ).alias("diff_cents"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(paired: DataFrame) -> DataFrame:
        # squared diffs overflow int64 at sf0.1: exact DECIMAL(38,0)
        # accumulation, single conversion to double (linear-CKA pattern)
        mom = paired.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("diff_cents").cast("bigint").alias("s"),
            F.sum(
                F.col("diff_cents").cast("decimal(38,0)")
                * F.col("diff_cents")
            ).alias("ss"),
        )
        bias = F.col("s") * F.lit(1.0) / F.col("n")
        sd = F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n")
            )
            / (F.col("n") - 1)
        )
        lim = mom.select("n", bias.alias("bias"), sd.alias("sd"))
        outside = (
            paired.crossJoin(F.broadcast(lim))
            .filter(
                (
                    F.col("diff_cents")
                    < F.col("bias") - F.lit(_HM_Z) * F.col("sd")
                )
                | (
                    F.col("diff_cents")
                    > F.col("bias") + F.lit(_HM_Z) * F.col("sd")
                )
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_outside"))
        )
        return lim.crossJoin(outside).select(
            F.col("n").alias("n_orders"),
            F.round(F.col("bias"), 2).alias("bias_cents"),
            F.round(F.col("sd"), 2).alias("sd_cents"),
            F.round(F.col("bias") - F.lit(_HM_Z) * F.col("sd"), 2).alias(
                "loa_low"
            ),
            F.round(F.col("bias") + F.lit(_HM_Z) * F.col("sd"), 2).alias(
                "loa_high"
            ),
            "n_outside",
            F.round(F.col("n_outside") * F.lit(1.0) / F.col("n"), 6).alias(
                "share_outside"
            ),
        )

    # the paired diff table feeds the moment pass AND the outside-count
    # re-scan — persist so the header-detail join executes once
    return persisted_result(paired, build)


from weather_stream_processor_spark.operators._normal_tail import (
    normal_sf_signed_sql as _normal_sf_signed_sql_local,
)


@register(
    "hosmer_lemeshow_gof",
    oracle=f"""
        WITH {_SCORE_CTE},
        lifted AS (
            SELECT LEAST(CAST(FLOOR(score * {_N_CAL_BINS}) AS BIGINT),
                         {_N_CAL_BINS - 1}) AS bin,
                   CAST(ROUND(score * 10000) AS BIGINT) AS s4,
                   label
            FROM scored
        ),
        per_bin AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(label) AS BIGINT) AS observed,
                   CAST(SUM(s4) AS BIGINT) AS s4_sum
            FROM lifted GROUP BY bin
        ),
        terms AS (
            SELECT bin, n, observed,
                   s4_sum / (n * 10000.0) AS p_bar,
                   (observed - s4_sum / 10000.0)
                   * (observed - s4_sum / 10000.0)
                   / (s4_sum / 10000.0
                      * (1.0 - s4_sum / (n * 10000.0))) AS hl_term,
                   CAST(COUNT(*) OVER () AS BIGINT) AS g
            FROM per_bin
        ),
        stat AS (
            SELECT bin, n, observed, p_bar, hl_term,
                   SUM(hl_term) OVER () AS hl_chi2,
                   g * 1.0 - 2.0 AS df
            FROM terms
        )
        SELECT bin, n, observed,
               ROUND(p_bar, 6) AS p_bar,
               ROUND(hl_term, 6) AS hl_term,
               ROUND(hl_chi2, 6) AS hl_chi2,
               CAST(df AS BIGINT) AS df,
               ROUND({_normal_sf_signed_sql_local(
                   "((pow(hl_chi2 / df, 1.0 / 3.0)"
                   " - (1.0 - 2.0 / (9.0 * df)))"
                   " / sqrt(2.0 / (9.0 * df)))"
               )}, 6) AS p_wilson_hilferty
        FROM stat
    """,
    doc=(
        "HOSMER-LEMESHOW GOODNESS-OF-FIT over the same "
        f"{_N_CAL_BINS}-bin calibration table as calibration_bins_ece — "
        "the SIGNIFICANCE layer ECE lacks (ECE says how big the "
        "calibration gaps are; HL says whether gaps this big are "
        "consistent with a calibrated score at this sample size): "
        "per bin, (O - E)^2 / (E(1 - p_bar)) with E = the sum of "
        "predicted probabilities, chi2 = the sum over bins, df = "
        "bins - 2, p through the Wilson-Hilferty cube-root map and the "
        "shared A&S tail. Expected counts come from EXACT integer "
        "sums of the 10^4-lifted 4-dp scores (never a float mean "
        "re-multiplied), so both engines difference identical "
        "quantities; the per-bin terms and the whole-frame chi2 run "
        f"over the {_N_CAL_BINS}-row bin table. One corpus-scale hash "
        "aggregate at 100 TB."
    ),
    tags=("evals", "llm", "statistics", "window"),
)
def hosmer_lemeshow_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.operators._normal_tail import (
        normal_sf_col,
    )

    s = _scored(spark, sf_dir)
    lifted = s.select(
        F.least(
            F.floor(F.col("score") * _N_CAL_BINS).cast("bigint"),
            F.lit(_N_CAL_BINS - 1),
        ).alias("bin"),
        F.round(F.col("score") * 10000).cast("bigint").alias("s4"),
        "label",
    )
    per_bin = lifted.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("observed"),
        F.sum("s4").cast("bigint").alias("s4_sum"),
    )
    e = F.col("s4_sum") / F.lit(10000.0)
    p_bar = F.col("s4_sum") / (F.col("n") * F.lit(10000.0))
    hl_term = (
        (F.col("observed") - e)
        * (F.col("observed") - e)
        / (e * (F.lit(1.0) - p_bar))
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = per_bin.select(
        "bin",
        "n",
        "observed",
        p_bar.alias("p_bar"),
        hl_term.alias("hl_term"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("g"),
    )
    stat = terms.select(
        "bin",
        "n",
        "observed",
        "p_bar",
        "hl_term",
        F.sum("hl_term").over(w_all).alias("hl_chi2"),
        (F.col("g") * F.lit(1.0) - F.lit(2.0)).alias("df"),
    )
    z_wh = (
        F.pow(F.col("hl_chi2") / F.col("df"), F.lit(1.0) / F.lit(3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * F.col("df")))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * F.col("df")))
    p_wh = F.when(z_wh >= 0, normal_sf_col(z_wh)).otherwise(
        F.lit(1.0) - normal_sf_col(-z_wh)
    )
    return stat.select(
        "bin",
        "n",
        "observed",
        F.round(F.col("p_bar"), 6).alias("p_bar"),
        F.round(F.col("hl_term"), 6).alias("hl_term"),
        F.round(F.col("hl_chi2"), 6).alias("hl_chi2"),
        F.col("df").cast("bigint").alias("df"),
        F.round(p_wh, 6).alias("p_wilson_hilferty"),
    )


@register(
    "jarque_bera_normality",
    oracle=f"""
        WITH {_SCORE_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,")},
        lifted AS (
            SELECT source,
                   CAST(ROUND(score * 10000) AS BIGINT) AS s4
            FROM scored
        ),
        mom AS (
            -- raw power sums up to the 4th are exact HUGEINTs
            -- (s4 <= 1e4, so sum(s4^4) <= n * 1e16 — int64 dies at
            -- n ~ 1e3, HUGEINT/DECIMAL(38,0) holds to n ~ 1e22)
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(s4) AS BIGINT) AS s,
                   SUM(CAST(s4 AS HUGEINT) * s4) AS ss,
                   SUM(CAST(s4 AS HUGEINT) * s4 * s4) AS sss,
                   SUM(CAST(s4 AS HUGEINT) * s4 * s4 * s4) AS ssss
            FROM lifted GROUP BY source
            HAVING COUNT(*) >= 2
        ),
        cm AS (
            -- central moments as ONE mirrored double expression over the
            -- exact integer raw sums (identical expression tree in both
            -- engines; the 1e4 lift cancels inside the scale-free
            -- skewness/kurtosis ratios)
            SELECT source, n,
                   CAST(s AS DOUBLE) / n AS xb,
                   CAST(ss AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                       AS m2,
                   CAST(sss AS DOUBLE) / n
                       - 3.0 * (CAST(s AS DOUBLE) / n)
                             * (CAST(ss AS DOUBLE) / n)
                       + 2.0 * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n) AS m3,
                   CAST(ssss AS DOUBLE) / n
                       - 4.0 * (CAST(s AS DOUBLE) / n)
                             * (CAST(sss AS DOUBLE) / n)
                       + 6.0 * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)
                             * (CAST(ss AS DOUBLE) / n)
                       - 3.0 * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n) AS m4
            FROM mom
        ),
        stat AS (
            SELECT source, n,
                   m3 / pow(m2, 1.5) AS skewness,
                   m4 / (m2 * m2) - 3.0 AS ex_kurtosis,
                   n / 6.0 * (m3 / pow(m2, 1.5) * (m3 / pow(m2, 1.5))
                              + (m4 / (m2 * m2) - 3.0)
                                * (m4 / (m2 * m2) - 3.0) / 4.0) AS jb
            FROM cm WHERE m2 > 0
        )
        SELECT source, n AS n_docs,
               ROUND(skewness, 6) AS skewness,
               ROUND(ex_kurtosis, 6) AS ex_kurtosis,
               ROUND(jb, 6) AS jb_stat,
               ROUND(exp(-jb / 2.0), 6) AS p_value
        FROM stat
    """,
    doc=(
        "JARQUE-BERA NORMALITY TEST of the per-source quality-score "
        "distributions: JB = n/6 * (S^2 + K^2/4) from sample skewness "
        "S = m3/m2^1.5 and excess kurtosis K = m4/m2^2 - 3 — the "
        "moments-only normality screen that gates every operator "
        "quoting a normal-theory interval on these scores (Welch "
        "ANOVA, the effect-size panel, meta-analysis): if JB rejects, "
        "those intervals are decorative. Raw power sums of the "
        "10^4-lifted scores up to the 4th are EXACT "
        "HUGEINT/DECIMAL(38,0) integers from one scan (sum(s4^4) "
        "overflows int64 at ~1e3 rows, same guard class as "
        "bland_altman); central moments are one mirrored double "
        "expression over those integers; the 1e4 lift cancels inside "
        "the scale-free S and K. Under H0, JB ~ chi-square(2), whose "
        "survival function is EXACTLY exp(-x/2) — no polynomial "
        "approximation, bit-identical in both engines. Degenerate "
        "sources (n < 2 or zero variance) are excluded, mirrored. One "
        "per-source aggregate is the only corpus-scale shuffle."
    ),
    tags=("evals", "statistics", "quality"),
)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 4
    )
    lifted = docs.select(
        "source",
        F.round(score * 10000).cast("bigint").alias("s4"),
    )
    dec = "decimal(38,0)"
    s4 = F.col("s4")
    mom = (
        lifted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("s4").cast("bigint").alias("s"),
            F.sum(s4.cast(dec) * s4).alias("ss"),
            F.sum(s4.cast(dec) * s4 * s4).alias("sss"),
            F.sum(s4.cast(dec) * s4 * s4 * s4).alias("ssss"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    xb = F.col("s").cast("double") / n
    m2 = F.col("ss").cast("double") / n - xb * xb
    m3 = (
        F.col("sss").cast("double") / n
        - F.lit(3.0) * xb * (F.col("ss").cast("double") / n)
        + F.lit(2.0) * xb * xb * xb
    )
    m4 = (
        F.col("ssss").cast("double") / n
        - F.lit(4.0) * xb * (F.col("sss").cast("double") / n)
        + F.lit(6.0) * xb * xb * (F.col("ss").cast("double") / n)
        - F.lit(3.0) * xb * xb * xb * xb
    )
    cm = mom.select("source", "n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    skew = F.col("m3") / F.pow(F.col("m2"), F.lit(1.5))
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)
    jb = F.col("n") / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return cm.filter(F.col("m2") > 0).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("ex_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.round(F.exp(-jb / F.lit(2.0)), 6).alias("p_value"),
    )


_ERR_GMAX = 3  # max possible grade = |_QUERY_TERMS| (a-priori, not data-max)
_ERR_BASE = 2**_ERR_GMAX  # 8: stop-prob denominators are dyadic eighths
# common denominator of every ERR@k term at k <= 10: 8^10 * lcm(1..10).
# ERR * _ERR_DEN is an EXACT BIGINT (term_i = num_i * P_{i-1} * 8^(10-i)
# * (2520/i) <= 7 * 8^9 * 2520 ~ 2.4e12), so the running metric is an
# order-free integer window sum — the margin audit caught the original
# float formulation sitting EXACTLY on a 6-dp half-boundary (ERR of
# dyadic stop probabilities IS a dyadic rational, e.g. 0.9296875).
_ERR_LCM = 2520  # lcm(1..10)
_ERR_DEN = _ERR_BASE**10 * _ERR_LCM


@register(
    "err_retrieval_eval",
    oracle=f"""
        WITH run AS ({{BM25}}),
        {{REL}},
        ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk,
                   run.doc_id,
                   COALESCE(r.grade, 0) AS grade
            FROM run LEFT JOIN rel r USING (doc_id)
        ),
        topk AS (SELECT * FROM ranked WHERE rnk <= {{K}}),
        probs AS (
            SELECT rnk, doc_id, grade,
                   CAST(POWER(2, grade) - 1 AS BIGINT) AS num,
                   CAST({_ERR_BASE} - (POWER(2, grade) - 1) AS BIGINT) AS miss
            FROM topk
        ),
        pfx AS (
            -- P_{{i-1}} = prod of prior miss factors, an exact integer
            -- <= 8^9 recovered from exp(sum ln) by integer rounding
            -- (relative error ~1e-15 * 1e9 << 0.5, both engines land on
            -- the same integer)
            SELECT rnk, doc_id, grade, num,
                   CAST(ROUND(EXP(COALESCE(SUM(LN(miss)) OVER (
                       ORDER BY rnk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0.0))) AS BIGINT) AS p_prev
            FROM probs
        ),
        terms AS (
            SELECT rnk, doc_id, grade, num, p_prev,
                   num * p_prev
                       * CAST(POWER({_ERR_BASE}, {{K}} - rnk) AS BIGINT)
                       * ({_ERR_LCM} // rnk) AS term_int
            FROM pfx
        )
        SELECT rnk, doc_id, grade,
               ROUND(CAST(num * p_prev AS DOUBLE)
                     / POWER({_ERR_BASE}, rnk), 6) AS stop_mass,
               CAST(SUM(term_int) OVER (
                   ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS err_num,
               ROUND(CAST(SUM(term_int) OVER (
                   ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / {_ERR_DEN}, 6) AS err_at_k
        FROM terms
    """.replace("{BM25}", _BM25_ORACLE)
       .replace("{REL}", _rel_sql())
       .replace("{K}", str(_NDCG_K)),
    doc=(
        "EXPECTED RECIPROCAL RANK of the bm25_top_docs run (Chapelle "
        "2009) — the CASCADE-model ranking metric NDCG cannot replace: "
        "NDCG assumes the user examines every position with a fixed "
        "discount, ERR models a user who STOPS at the first satisfying "
        "document (stop probability R_i = (2^g - 1)/2^gmax per rank), "
        "so a relevant document buried under other relevant documents "
        "is worth almost nothing — exactly the early-precision behavior "
        "navigational queries have. ERR@k = sum_i (1/i) R_i "
        "prod_{j<i}(1 - R_j); gmax = 3 is the a-priori maximum (the "
        "query has 3 terms). ALL-INTEGER FORM: the stop probabilities "
        "are dyadic eighths, so ERR * 8^10 * lcm(1..10) is an exact "
        "BIGINT — emitted as err_num, the hash-certified witness; the "
        "prefix miss-product (an integer <= 8^9) is recovered exactly "
        "from exp(sum ln) by integer rounding, and the running metric "
        "is an order-free INTEGER window sum divided once. The margin "
        "audit caught the first float formulation sitting exactly on a "
        "6-dp half-boundary (ERR of dyadic rationals IS dyadic: "
        "0.9296875) — the integer lift removes the boundary, the same "
        "cure as linear-CKA's. stop_mass = R_i * prod(1-R_j), the "
        "per-rank probability the user stops HERE. The retrieved list "
        "reuses bm25_top_docs' registered plan; every window is "
        "top-k-bounded."
    ),
    tags=("evals", "retrieval", "llm"),
)
def err_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.registry import _REGISTRY

    run = _REGISTRY["bm25_top_docs"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    rel = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(*_QUERY_TERMS))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("grade"))
    )
    w_rank = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))  # 20-row frame
    ranked = (
        run.join(rel, "doc_id", "left")
        .select(
            "doc_id",
            "bm25",
            F.coalesce("grade", F.lit(0)).cast("bigint").alias("grade"),
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _NDCG_K)
    )
    num = (F.pow(F.lit(2.0), F.col("grade")) - 1).cast("bigint")
    miss = (F.lit(_ERR_BASE) - num).cast("bigint")
    probs = ranked.select(
        "rnk", "doc_id", "grade", num.alias("num"), miss.alias("miss")
    )
    w_prev = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    # exact integer prefix product recovered from exp(sum ln): <= 8^9,
    # so the float error (~1e-6 absolute) is far from the 0.5 boundary
    p_prev = (
        F.round(
            F.exp(
                F.coalesce(
                    F.sum(F.log(F.col("miss").cast("double"))).over(w_prev),
                    F.lit(0.0),
                )
            )
        )
    ).cast("bigint")
    pfx = probs.select("rnk", "doc_id", "grade", "num", p_prev.alias("p_prev"))
    term_int = (
        F.col("num")
        * F.col("p_prev")
        * F.pow(F.lit(float(_ERR_BASE)), F.lit(_NDCG_K) - F.col("rnk"))
        .cast("bigint")
        * (F.lit(_ERR_LCM) / F.col("rnk")).cast("bigint")
    )
    terms = pfx.select(
        "rnk", "doc_id", "grade", "num", "p_prev", term_int.alias("term_int")
    )
    cum = F.sum("term_int").over(w_run).cast("bigint")
    return terms.select(
        "rnk",
        "doc_id",
        "grade",
        F.round(
            (F.col("num") * F.col("p_prev")).cast("double")
            / F.pow(F.lit(float(_ERR_BASE)), F.col("rnk")),
            6,
        ).alias("stop_mass"),
        cum.alias("err_num"),
        F.round(cum.cast("double") / F.lit(float(_ERR_DEN)), 6).alias(
            "err_at_k"
        ),
    )


@register(
    "spiegelhalter_z_calibration",
    oracle=f"""
        WITH {_SCORE_CTE},
        lifted AS (
            SELECT CAST(ROUND(score * 10000) AS BIGINT) AS s4,
                   CAST(label AS BIGINT) AS y
            FROM scored
        ),
        mom AS (
            -- numerator lifted by 10^8, denominator by 10^16: every
            -- per-row term is an exact integer; HUGEINT because the
            -- denominator's 1e16-per-row terms pass int64 at ~1e3 rows
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(y * 10000 - s4 AS HUGEINT)
                       * (10000 - 2 * s4)) AS num8,
                   SUM(CAST(10000 - 2 * s4 AS HUGEINT) * (10000 - 2 * s4)
                       * s4 * (10000 - s4)) AS den16
            FROM lifted
        ),
        stat AS (
            -- the 10^8 lifts cancel exactly: z = num8 / sqrt(den16)
            SELECT n, CAST(num8 AS DOUBLE) / sqrt(CAST(den16 AS DOUBLE)) AS z
            FROM mom WHERE den16 > 0
        )
        SELECT n AS n_docs,
               ROUND(z, 6) AS z_spiegelhalter,
               ROUND(2.0 * {{SF}}, 6) AS p_value
        FROM stat
    """.replace("{SF}", normal_sf_sql("abs(z)")),
    doc=(
        "SPIEGELHALTER'S Z CALIBRATION TEST of the quality score as a "
        "probability of the en label: z = sum (y-p)(1-2p) / "
        "sqrt(sum (1-2p)^2 p(1-p)) — the SIGNIFICANCE layer the "
        "calibration diagnostics stack was missing (ECE measures the "
        "miscalibration magnitude, Hosmer-Lemeshow tests the binned "
        "curve, Brier decomposes the loss; Spiegelhalter tests the "
        "UNBINNED calibration component of the Brier score directly, "
        "no binning choices at all). With 10^4-lifted scores every "
        "per-row term is an exact integer: the numerator lifted by "
        "10^8 and the denominator by 10^16 (HUGEINT/DECIMAL(38,0) — "
        "1e16-per-row terms pass int64 at ~1e3 rows), and the lifts "
        "cancel exactly in z = num/sqrt(den). Two-sided p through the "
        "shared A&S tail. ONE corpus-scale aggregate, one row out."
    ),
    tags=("evals", "statistics", "llm"),
)
def spiegelhalter_z_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _scored(spark, sf_dir)
    lifted = s.select(
        F.round(F.col("score") * 10000).cast("bigint").alias("s4"),
        F.col("label").cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    one_minus_2p = F.lit(10000) - 2 * F.col("s4")
    mom = lifted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("y") * 10000 - F.col("s4")).cast(dec) * one_minus_2p
        ).alias("num8"),
        F.sum(
            one_minus_2p.cast(dec)
            * one_minus_2p
            * F.col("s4")
            * (F.lit(10000) - F.col("s4"))
        ).alias("den16"),
    )
    z = F.col("num8").cast("double") / F.sqrt(F.col("den16").cast("double"))
    from weather_stream_processor_spark.operators._normal_tail import (
        normal_sf_col,
    )

    return (
        mom.filter(F.col("den16") > 0)
        .select(
            F.col("n").alias("n_docs"),
            F.round(z, 6).alias("z_spiegelhalter"),
            F.round(F.lit(2.0) * normal_sf_col(F.abs(z)), 6).alias("p_value"),
        )
    )


@register(
    "holm_bonferroni_stepdown",
    oracle=f"""
        WITH {_SCORE_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,")},
        lifted AS (
            SELECT source,
                   CAST(ROUND(score * 10000) AS BIGINT) AS s4
            FROM scored
        ),
        mom AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS ns,
                   CAST(SUM(s4) AS BIGINT) AS ss,
                   SUM(CAST(s4 AS HUGEINT) * s4) AS sss
            FROM lifted GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(ns) AS BIGINT) AS n,
                   CAST(SUM(ss) AS BIGINT) AS s,
                   SUM(sss) AS sq
            FROM mom
        ),
        tests AS (
            SELECT mom.source, mom.ns,
                   ROUND(mom.ss * 1.0 / mom.ns / 10000.0, 6) AS mean_score,
                   (mom.ss * 1.0 / mom.ns
                    - (t.s - mom.ss) * 1.0 / (t.n - mom.ns))
                   / sqrt(
                       ((CAST(mom.sss AS DOUBLE) / mom.ns
                         - (mom.ss * 1.0 / mom.ns)
                           * (mom.ss * 1.0 / mom.ns))
                        * mom.ns / (mom.ns - 1.0)) / mom.ns
                       + ((CAST(t.sq - mom.sss AS DOUBLE) / (t.n - mom.ns)
                           - ((t.s - mom.ss) * 1.0 / (t.n - mom.ns))
                             * ((t.s - mom.ss) * 1.0 / (t.n - mom.ns)))
                          * (t.n - mom.ns)
                          / ((t.n - mom.ns) - 1.0)) / (t.n - mom.ns)
                     ) AS z
            FROM mom CROSS JOIN tot t
            -- precondition (r10 ADVICE, the meta_analysis_fixed_effect
            -- discipline): a 1-doc source has undefined sample variance
            -- (ns-1 = 0) and a source holding all-but-one doc leaves a
            -- 1-doc complement ((n-ns)-1 = 0) — both yield Inf/NaN
            -- p-values with engine-divergent NULL semantics that poison
            -- the rank and cumulative-max windows. Tested family = sources
            -- with ns >= 2 AND n-ns >= 2; the rest-of-corpus moments stay
            -- full-corpus (singleton docs still count as evidence), but m
            -- counts only the TESTED hypotheses.
            WHERE mom.ns >= 2 AND t.n - mom.ns >= 2
        ),
        pvals AS (
            SELECT source, ns, mean_score,
                   CAST(COUNT(*) OVER () AS BIGINT) AS m,
                   ROUND(z, 6) AS z_score,
                   2.0 * {_fdr_sf_sql("abs(z)")} AS p,
                   ROW_NUMBER() OVER (
                       ORDER BY 2.0 * {_fdr_sf_sql("abs(z)")} ASC, source ASC
                   ) AS rnk
            FROM tests
        ),
        adj AS (
            -- Holm step-DOWN: p_adj(i) = min(1, max_(j<=i) (m-j+1)*p_j)
            -- — a FORWARD cumulative max, the mirror image of BH's
            -- reverse cumulative min
            SELECT source, ns, mean_score, z_score, p, rnk,
                   LEAST(MAX(p * (m - rnk + 1)) OVER (
                       ORDER BY rnk ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 1.0) AS p_adj
            FROM pvals
        )
        SELECT source, ns AS n_docs, mean_score, z_score,
               ROUND(p, 6) AS p_value,
               ROUND(p_adj, 6) AS p_adj,
               p_adj < {_FDR_ALPHA} AS significant
        FROM adj
    """,
    doc=(
        "HOLM-BONFERRONI STEP-DOWN correction over the per-source "
        "QUALITY-SCORE test family (each source's mean lexical-"
        "diversity score Welch-z-tested against the rest of the corpus "
        "via total-minus-source moments, one scan): p_adj(i) = min(1, "
        "max_j<=i (m-j+1)*p_(j)) — the FWER-controlling discipline "
        "that pairs with bh_fdr_correction's FDR control (BH bounds "
        "the expected FALSE-DISCOVERY share and is the right gate for "
        "exploratory segment reports; Holm bounds the probability of "
        "ANY false positive and is the right gate when a single flag "
        "triggers an expensive action — uniformly more powerful than "
        "plain Bonferroni at the same guarantee, never weaker). "
        "Structurally BH's mirror image: a FORWARD cumulative max over "
        "the ranked p-value grid instead of a reverse cumulative min; "
        "the two operators differ in exactly the window that encodes "
        "the inferential contract — deliberate, documented pairing. "
        "Score moments are exact integers (squared 10^4-lifted scores "
        "in HUGEINT/DECIMAL(38,0)); the p grid is |sources|-row "
        "bounded. One corpus-scale aggregate."
    ),
    tags=("evals", "experimentation", "statistics", "quality"),
)
def holm_bonferroni_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 4
    )
    lifted = docs.select(
        "source", F.round(score * 10000).cast("bigint").alias("s4")
    )
    dec = "decimal(38,0)"
    mom = lifted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("s4").cast("bigint").alias("ss"),
        F.sum(F.col("s4").cast(dec) * F.col("s4")).alias("sss"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(mom_c: DataFrame) -> DataFrame:
        tot = mom_c.agg(
            F.sum("ns").cast("bigint").alias("n"),
            F.sum("ss").cast("bigint").alias("s"),
            F.sum("sss").alias("sq"),
        )
        # precondition (r10 ADVICE, mirrored in the oracle's tests CTE):
        # only sources with ns >= 2 and a >= 2-doc complement are TESTED
        # (Welch variance divides by ns-1 and (n-ns)-1); totals stay
        # full-corpus, and m counts the tested family below.
        j = (
            mom_c.crossJoin(F.broadcast(tot))
            .filter((F.col("ns") >= 2) & (F.col("n") - F.col("ns") >= 2))
        )
        mean_s = F.col("ss") * F.lit(1.0) / F.col("ns")
        nr = F.col("n") - F.col("ns")
        mean_r = (F.col("s") - F.col("ss")) * F.lit(1.0) / nr
        var_s = (
            (F.col("sss").cast("double") / F.col("ns") - mean_s * mean_s)
            * F.col("ns")
            / (F.col("ns") - F.lit(1.0))
        )
        var_r = (
            (
                (F.col("sq") - F.col("sss")).cast("double") / nr
                - mean_r * mean_r
            )
            * nr
            / (nr - F.lit(1.0))
        )
        z = (mean_s - mean_r) / F.sqrt(var_s / F.col("ns") + var_r / nr)
        from weather_stream_processor_spark.operators._normal_tail import (
            normal_sf_col,
        )

        p = F.lit(2.0) * normal_sf_col(F.abs(z))
        w_rank = Window.orderBy(F.asc("p"), F.asc("source"))  # |sources| rows
        w_all = Window.partitionBy()  # bounded tested-family frame
        pvals = (
            j.select(
                "source",
                "ns",
                F.round(mean_s / F.lit(10000.0), 6).alias("mean_score"),
                F.round(z, 6).alias("z_score"),
                p.alias("p"),
            )
            .withColumn("m", F.count(F.lit(1)).over(w_all).cast("bigint"))
            .withColumn("rnk", F.row_number().over(w_rank))
        )
        w_fwd = Window.orderBy(F.asc("rnk")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        adj = pvals.withColumn(
            "p_adj",
            F.least(
                F.max(
                    F.col("p") * (F.col("m") - F.col("rnk") + 1)
                ).over(w_fwd),
                F.lit(1.0),
            ),
        )
        return adj.select(
            "source",
            F.col("ns").alias("n_docs"),
            "mean_score",
            "z_score",
            F.round("p", 6).alias("p_value"),
            F.round("p_adj", 6).alias("p_adj"),
            (F.col("p_adj") < _FDR_ALPHA).alias("significant"),
        )

    return persisted_result(mom, build)


_TSCAL_ITERS = 6
_TSCAL_TMIN = 0.25  # Newton clamp: keeps |logit/T| <= 37, sigma in (0,1)


def _tscal_oracle() -> str:
    """Six unrolled Newton steps for the scalar temperature, each one
    aggregate over the bounded (s4, y) grid — the PQ-Lloyd CTE-unroll
    convention applied to a 1-parameter MLE."""
    sig = "(1.0 / (1.0 + exp(-(z / t))))"
    gterm = f"cnt * ({sig} - y) * (-(z)) / (t * t)"
    hterm = (
        f"cnt * ({sig} * (1.0 - {sig}) * z * z / (t * t * t * t)"
        f" + ({sig} - y) * 2.0 * z / (t * t * t))"
    )
    # numerically stable BCE: max(u,0) - y*u + ln(1+exp(-|u|))
    def nll(tref: str) -> str:
        u = f"(z / {tref})"
        return (
            f"SUM(cnt * (GREATEST({u}, 0.0) - y * {u}"
            f" + ln(1.0 + exp(-abs({u})))))"
        )

    sql = [
        f"""
        WITH {_SCORE_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,")},
        lifted AS (
            SELECT CAST(ROUND(score * 10000) AS BIGINT) AS s4,
                   CAST(label AS BIGINT) AS y
            FROM scored
            WHERE ROUND(score * 10000) > 0 AND ROUND(score * 10000) < 10000
        ),
        grid AS (
            SELECT s4, y, CAST(COUNT(*) AS BIGINT) AS cnt,
                   ln(s4 * 1.0 / (10000 - s4)) AS z
            FROM lifted GROUP BY s4, y
        ),
        t0 AS (SELECT CAST(1.0 AS DOUBLE) AS t)"""
    ]
    for k in range(1, _TSCAL_ITERS + 1):
        sql.append(
            f""",
        t{k} AS (
            SELECT GREATEST(MAX(t) - SUM({gterm}) / SUM({hterm}),
                            {_TSCAL_TMIN!r}) AS t
            FROM grid CROSS JOIN t{k - 1}
        )"""
        )
    sql.append(
        f""",
        fin AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
                   {nll("1.0")} AS nll_t1,
                   {nll("t")} AS nll_that,
                   MAX(t) AS t_hat
            FROM grid CROSS JOIN t{_TSCAL_ITERS}
        )
        SELECT n_docs,
               ROUND(t_hat, 6) AS t_hat,
               ROUND(nll_t1 / n_docs, 6) AS nll_per_doc_t1,
               ROUND(nll_that / n_docs, 6) AS nll_per_doc_that
        FROM fin"""
    )
    return "".join(sql)


def temperature_scaling_grid_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lazy twin of the fitted grid for plan tests: ONE corpus scan
    builds the bounded (s4, y) grid (<= 2*10^4 rows by quantization);
    the registered builder persists this and runs the Newton unroll over
    the cached partitions (r10 ADVICE: the unwrapped form re-derived the
    grid lineage inside each of the 6 Newton crossJoins plus the final
    aggregate — up to 7 parquet scans of the corpus)."""
    s = _scored(spark, sf_dir)
    s4 = F.round(F.col("score") * 10000)
    lifted = s.filter((s4 > 0) & (s4 < 10000)).select(
        s4.cast("bigint").alias("s4"),
        F.col("label").cast("bigint").alias("y"),
    )
    return (
        lifted.groupBy("s4", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "s4",
            "y",
            "cnt",
            F.log(
                F.col("s4") * F.lit(1.0) / (F.lit(10000) - F.col("s4"))
            ).alias("z"),
        )
    )



@register(
    "temperature_scaling_fit",
    oracle=_tscal_oracle(),
    doc=(
        "TEMPERATURE SCALING FIT (Guo et al. 2017) of the quality score "
        "as a probability of the en label: the one-parameter "
        "calibration REPAIR that completes the calibration stack — "
        "ECE/Hosmer-Lemeshow/Spiegelhalter DIAGNOSE miscalibration, "
        "isotonic_calibration_bins repairs nonparametrically (and can "
        "overfit small bins), temperature scaling divides every logit "
        "by one scalar T fitted by maximum likelihood, provably "
        "preserving ranking (AUC unchanged) while fixing confidence — "
        "the standard post-hoc calibration for neural classifiers. T "
        f"is found by {_TSCAL_ITERS} unrolled NEWTON steps (closed-form "
        "gradient and Hessian of the binary NLL in T), each ONE "
        "aggregate over the bounded (lifted-score, label) grid — the "
        "PQ-Lloyd unroll convention for a 1-parameter MLE; no "
        "driver-side loop, no collect. Logits come from the exact "
        "4-dp score grid (degenerate 0/1 scores excluded, mirrored); "
        "the NLL uses the numerically stable max(u,0) - y*u + "
        "ln(1+exp(-|u|)) form; T is clamped to >= 0.25 so sigma never "
        "saturates to an exact float 1.0. Emits T-hat and per-doc NLL "
        "at T=1 vs T-hat (the improvement IS the miscalibration "
        "evidence). ONE corpus-scale aggregate builds the grid, which "
        "is persisted (persisted_result, the mood/ljung/seasonal-MK "
        "scan discipline) so the Newton steps and the final NLL all "
        "consume the cached grid — exactly one parquet scan of the "
        "corpus, not one per Newton step."
    ),
    tags=("evals", "llm", "statistics", "calibration"),
)
def temperature_scaling_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    grid = temperature_scaling_grid_plan(spark, sf_dir)

    def sig(t):
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("z") / t)))

    def build(grid_c: DataFrame) -> DataFrame:
        tdf = spark.range(1).select(F.lit(1.0).cast("double").alias("t"))
        for _ in range(_TSCAL_ITERS):
            j = grid_c.crossJoin(F.broadcast(tdf))
            t = F.col("t")
            sg = sig(t)
            gterm = F.col("cnt") * (sg - F.col("y")) * (-F.col("z")) / (t * t)
            hterm = F.col("cnt") * (
                sg
                * (F.lit(1.0) - sg)
                * F.col("z")
                * F.col("z")
                / (t * t * t * t)
                + (sg - F.col("y")) * F.lit(2.0) * F.col("z") / (t * t * t)
            )
            tdf = j.agg(
                F.greatest(
                    F.max("t") - F.sum(gterm) / F.sum(hterm),
                    F.lit(_TSCAL_TMIN),
                ).alias("t")
            )

        def nll(u):
            return F.sum(
                F.col("cnt")
                * (
                    F.greatest(u, F.lit(0.0))
                    - F.col("y") * u
                    + F.log(F.lit(1.0) + F.exp(-F.abs(u)))
                )
            )

        fin = grid_c.crossJoin(F.broadcast(tdf)).agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            nll(F.col("z") / F.lit(1.0)).alias("nll_t1"),
            nll(F.col("z") / F.col("t")).alias("nll_that"),
            F.max("t").alias("t_hat"),
        )
        return fin.select(
            "n_docs",
            F.round(F.col("t_hat"), 6).alias("t_hat"),
            F.round(F.col("nll_t1") / F.col("n_docs"), 6).alias(
                "nll_per_doc_t1"
            ),
            F.round(F.col("nll_that") / F.col("n_docs"), 6).alias(
                "nll_per_doc_that"
            ),
        )

    return persisted_result(grid, build)


_ADCG_ALPHA_POW = 10  # gains lifted x2^10: (1-alpha)=0.5 => 2^(10-c) exact


@register(
    "alpha_dcg_novelty_eval",
    oracle=f"""
        WITH run AS ({{BM25}}),
        ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                       AS rnk
            FROM run
        ),
        topk AS (SELECT * FROM ranked WHERE rnk <= 10),
        cover AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok IN ('spark', 'join', 'window')
        ),
        j AS (
            SELECT t.rnk, t.doc_id, c.tok
            FROM topk t LEFT JOIN cover c USING (doc_id)
        ),
        nov AS (
            SELECT rnk, doc_id, tok,
                   CASE WHEN tok IS NULL THEN NULL
                        ELSE COALESCE(SUM(1) OVER (
                            PARTITION BY tok ORDER BY rnk
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                   END AS c_before
            FROM j
        ),
        per_rank AS (
            SELECT rnk, doc_id,
                   CAST(SUM(CASE WHEN tok IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS subtopics_covered,
                   CAST(SUM(CASE WHEN c_before = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS new_subtopics,
                   CAST(COALESCE(SUM(CASE WHEN tok IS NOT NULL THEN
                       CAST(pow(2.0, {_ADCG_ALPHA_POW} - c_before)
                            AS BIGINT) END), 0) AS BIGINT) AS gain_int
            FROM nov GROUP BY rnk, doc_id
        ),
        lifted AS (
            SELECT rnk, doc_id, subtopics_covered, new_subtopics, gain_int,
                   CAST(FLOOR((gain_int / 1024.0)
                              / (ln(rnk + 1.0) / ln(2.0))
                              * 1000000000.0 + 0.5) AS BIGINT) AS contrib_q
            FROM per_rank
        )
        SELECT rnk, doc_id, subtopics_covered, new_subtopics,
               -- exact dyadic (x2^10 lift): no ROUND — 23.4375-class
               -- values sit exactly ON the 6-dp half grid and the lift
               -- makes them bit-identical without one (margin audit)
               gain_int / 1024.0 AS novelty_gain,
               ROUND(CAST(SUM(contrib_q) OVER (
                   ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 1000000000.0, 6) AS alpha_dcg,
               ROUND(CAST(SUM(new_subtopics) OVER (
                   ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 3.0, 6) AS subtopic_recall
        FROM lifted
    """.replace("{BM25}", _BM25_ORACLE),
    doc=(
        "ALPHA-DCG NOVELTY/DIVERSITY EVALUATION of the bm25_top_docs "
        "run (Clarke et al. 2008): the diversity-aware gain the plain "
        "NDCG scorecard cannot see — each query term is a SUBTOPIC, "
        "and a doc's gain at rank i is sum_t J(d,t)*(1-alpha)^(count "
        "of earlier docs already covering t) with alpha = 0.5, so the "
        "third consecutive doc about the same subtopic earns 1/4 the "
        "credit and a list of near-duplicates scores like one document "
        "(mmr_diversified_rerank OPTIMIZES for this property; this "
        "MEASURES it on any run). alpha = 0.5 makes every gain an "
        "exact DYADIC rational — lifted x2^10 they are exact integers, "
        "and each rank's log2-discounted contribution is dyadically "
        "1e9-lifted so the running alpha-DCG is an ORDER-FREE integer "
        "prefix sum (the SPRT lesson: a float window SUM accumulates "
        "in tree order); subtopic_recall tracks coverage of the 3 "
        "subtopics. The ideal (normalizing) permutation is NP-hard "
        "and conventionally greedy — deliberately not fabricated "
        "here; diversity ablations compare unnormalized alpha-DCG on "
        "a fixed query set, which this emits exactly. All windows run "
        "over the <=30-row (rank x subtopic) frame; the run reuses "
        "bm25_top_docs' registered plan."
    ),
    tags=("evals", "retrieval", "llm"),
)
def alpha_dcg_novelty_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.registry import _REGISTRY

    run = _REGISTRY["bm25_top_docs"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    w_rank = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))  # 20-row frame
    topk = (
        run.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 10)
        .select("rnk", "doc_id")
    )
    cover = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin("spark", "join", "window"))
        .distinct()
    )
    j = topk.join(cover, "doc_id", "left")
    w_nov = (
        Window.partitionBy("tok")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nov = j.select(
        "rnk",
        "doc_id",
        "tok",
        F.when(
            F.col("tok").isNull(), F.lit(None).cast("bigint")
        ).otherwise(
            F.coalesce(F.sum(F.lit(1)).over(w_nov), F.lit(0))
        ).alias("c_before"),
    )
    per_rank = nov.groupBy("rnk", "doc_id").agg(
        F.sum(F.when(F.col("tok").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("subtopics_covered"),
        F.sum(F.when(F.col("c_before") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("new_subtopics"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("tok").isNotNull(),
                    F.pow(
                        F.lit(2.0), F.lit(_ADCG_ALPHA_POW) - F.col("c_before")
                    ).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("gain_int"),
    )
    contrib_q = (
        F.floor(
            (F.col("gain_int") / F.lit(1024.0))
            / (F.log(F.col("rnk") + F.lit(1.0)) / F.log(F.lit(2.0)))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
    ).cast("bigint")
    lifted = per_rank.select(
        "rnk",
        "doc_id",
        "subtopics_covered",
        "new_subtopics",
        "gain_int",
        contrib_q.alias("contrib_q"),
    )
    w_run = Window.orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return lifted.select(
        "rnk",
        "doc_id",
        "subtopics_covered",
        "new_subtopics",
        (F.col("gain_int") / F.lit(1024.0)).alias("novelty_gain"),
        F.round(
            F.sum("contrib_q").over(w_run).cast("double")
            / F.lit(1000000000.0),
            6,
        ).alias("alpha_dcg"),
        F.round(
            F.sum("new_subtopics").over(w_run).cast("double") / F.lit(3.0), 6
        ).alias("subtopic_recall"),
    )


@register(
    "jackknife_source_se",
    oracle=f"""
        WITH {_SCORE_CTE.replace("SELECT doc_id,", "SELECT doc_id, source,")},
        lifted AS (
            SELECT source,
                   CAST(ROUND(score * 10000) AS BIGINT) AS s4
            FROM scored
        ),
        grp AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(s4) AS BIGINT) AS s_i
            FROM lifted GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(s_i) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS g
            FROM grp
        ),
        loo AS (
            SELECT grp.source, grp.n_i, t.n, t.s, t.g,
                   CAST(t.s - grp.s_i AS DOUBLE) / (t.n - grp.n_i)
                       / 10000.0 AS theta_loo,
                   CAST(FLOOR(CAST(t.s - grp.s_i AS DOUBLE)
                              / (t.n - grp.n_i) / 10000.0
                              * 1000000000000.0 + 0.5) AS BIGINT) AS tq
            FROM grp CROSS JOIN tot t
            WHERE t.g >= 2 AND t.n - grp.n_i >= 1
        ),
        mj AS (
            SELECT MAX(n) AS n, MAX(s) AS s, MAX(g) AS g,
                   CAST(SUM(tq) AS BIGINT) AS stq
            FROM loo
        ),
        dev AS (
            SELECT l.source, l.n_i, l.theta_loo, m.n, m.s, m.g, m.stq,
                   CAST(FLOOR(
                       (l.theta_loo
                        - (CAST(m.stq AS DOUBLE) / m.g) / 1000000000000.0)
                       * (l.theta_loo
                          - (CAST(m.stq AS DOUBLE) / m.g) / 1000000000000.0)
                       * 1000000000000.0 + 0.5) AS BIGINT) AS dq
            FROM loo l CROSS JOIN mj m
        ),
        fin AS (
            SELECT MAX(n) AS n, MAX(s) AS s, MAX(g) AS g, MAX(stq) AS stq,
                   CAST(SUM(dq) AS BIGINT) AS sdq
            FROM dev
        )
        SELECT d.source,
               d.n_i AS n_docs,
               ROUND(CAST(f.s AS DOUBLE) / f.n / 10000.0, 6) AS theta_full,
               ROUND(d.theta_loo, 6) AS theta_loo,
               ROUND(f.g * (CAST(f.s AS DOUBLE) / f.n / 10000.0)
                     - (f.g - 1) * d.theta_loo, 6) AS pseudo_value,
               ROUND(sqrt((f.g - 1.0) / f.g
                          * (CAST(f.sdq AS DOUBLE) / 1000000000000.0)), 8)
                   AS jack_se,
               ROUND((f.g - 1.0)
                     * ((CAST(f.stq AS DOUBLE) / f.g) / 1000000000000.0
                        - CAST(f.s AS DOUBLE) / f.n / 10000.0), 8)
                   AS jack_bias
        FROM dev d CROSS JOIN fin f
    """,
    doc=(
        "DELETE-GROUP JACKKNIFE over sources for the corpus mean "
        "quality score: the RESAMPLING-inference twin the suite lacked "
        "— poisson_bootstrap_ci resamples DOCUMENTS (right when docs "
        "are exchangeable), but training corpora cluster by SOURCE, "
        "and the honest uncertainty for 'what if we'd crawled a "
        "different source mix' deletes whole sources: theta_(i) = "
        "(S - s_i)/(n - n_i) from exact total-minus-group integer "
        "moments (zero extra scans — the loo_source_influence "
        "identity applied to INFERENCE rather than attribution), "
        "SE_jack = sqrt((g-1)/g * sum(theta_(i) - mean)^2), "
        "bias_jack = (g-1)(mean_loo - theta_full), plus each source's "
        "Tukey pseudo-value g*theta - (g-1)*theta_(i) (the outlier "
        "diagnostic: a pseudo-value far from the pack marks the source "
        "whose removal moves the estimate most). The g-row cross-"
        "source sums are dyadically 1e12-lifted before summation "
        "(the eb_rate_shrinkage discipline — K-row double sums are "
        "the summation-order hash hazard). Single-source corpora "
        "excluded, mirrored. Plan: one corpus scan to the |sources| "
        "grid; everything after is g-row arithmetic."
    ),
    tags=("evals", "statistics", "sampling", "llm"),
)
def jackknife_source_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 4
    )
    lifted = docs.select(
        "source", F.round(score * 10000).cast("bigint").alias("s4")
    )
    grp = lifted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("s4").cast("bigint").alias("s_i"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def _build(grp_c: DataFrame) -> DataFrame:
        tot = grp_c.agg(
            F.sum("n_i").cast("bigint").alias("n"),
            F.sum("s_i").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("g"),
        )
        theta_loo = (
            (F.col("s") - F.col("s_i")).cast("double")
            / (F.col("n") - F.col("n_i"))
            / F.lit(10000.0)
        )
        loo = (
            grp_c.crossJoin(F.broadcast(tot))
            .filter(
                (F.col("g") >= 2) & (F.col("n") - F.col("n_i") >= 1)
            )
            .select(
                "source",
                "n_i",
                "n",
                "s",
                "g",
                theta_loo.alias("theta_loo"),
                F.floor(theta_loo * F.lit(1e12) + F.lit(0.5))
                .cast("bigint")
                .alias("tq"),
            )
        )
        mj = loo.agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.max("g").alias("g"),
            F.sum("tq").cast("bigint").alias("stq"),
        )
        mean_loo = (F.col("stq").cast("double") / F.col("g")) / F.lit(1e12)
        dev = (
            loo.drop("n", "s", "g")
            .crossJoin(F.broadcast(mj))
            .select(
                "source",
                "n_i",
                "theta_loo",
                "n",
                "s",
                "g",
                "stq",
                F.floor(
                    (F.col("theta_loo") - mean_loo)
                    * (F.col("theta_loo") - mean_loo)
                    * F.lit(1e12)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("dq"),
            )
        )
        fin = dev.agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.max("g").alias("g"),
            F.max("stq").alias("stq"),
            F.sum("dq").cast("bigint").alias("sdq"),
        )
        theta_full = F.col("s").cast("double") / F.col("n") / F.lit(10000.0)
        j = dev.select("source", "n_i", "theta_loo").crossJoin(
            F.broadcast(fin)
        )
        return j.select(
            "source",
            F.col("n_i").alias("n_docs"),
            F.round(theta_full, 6).alias("theta_full"),
            F.round(F.col("theta_loo"), 6).alias("theta_loo"),
            F.round(
                F.col("g") * theta_full
                - (F.col("g") - 1) * F.col("theta_loo"),
                6,
            ).alias("pseudo_value"),
            F.round(
                F.sqrt(
                    (F.col("g") - F.lit(1.0))
                    / F.col("g")
                    * (F.col("sdq").cast("double") / F.lit(1e12))
                ),
                8,
            ).alias("jack_se"),
            F.round(
                (F.col("g") - F.lit(1.0))
                * (
                    (F.col("stq").cast("double") / F.col("g")) / F.lit(1e12)
                    - theta_full
                ),
                8,
            ).alias("jack_bias"),
        )

    return persisted_result(grp, _build)


@register(
    "subclassification_ate",
    oracle="""
        WITH span AS (
            SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
                   CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
            FROM events
        ),
        users AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN 2 * epoch_us(ts) < lo + hi
                                 THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
                   CAST(SUM(CASE WHEN 2 * epoch_us(ts) < lo + hi
                                  AND event_type = 'click'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS pre_clicks,
                   CAST(SUM(CASE WHEN 2 * epoch_us(ts) >= lo + hi
                                  AND event_type = 'purchase'
                                 THEN CAST(ROUND(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS post_cents
            FROM events CROSS JOIN span
            GROUP BY user_id
        ),
        ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM users),
        chist AS (
            SELECT pre_clicks AS v, CAST(COUNT(*) AS BIGINT) AS c
            FROM users GROUP BY pre_clicks
        ),
        ccum AS (
            SELECT v, SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM chist
        ),
        med AS (
            SELECT MIN(v) AS q50 FROM ccum CROSS JOIN ntot
            WHERE cum >= CEIL(0.5 * n)
        ),
        ehist AS (
            SELECT pre_n AS v, CAST(COUNT(*) AS BIGINT) AS c
            FROM users GROUP BY pre_n
        ),
        ecum AS (
            SELECT v, SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM ehist
        ),
        brk AS (
            SELECT MIN(CASE WHEN cum >= CEIL(0.25 * n) THEN v END) AS b1,
                   MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN v END) AS b2,
                   MIN(CASE WHEN cum >= CEIL(0.75 * n) THEN v END) AS b3
            FROM ecum CROSS JOIN ntot
        ),
        assigned AS (
            SELECT CASE WHEN u.pre_clicks >= m.q50 THEN 1 ELSE 0 END AS t,
                   (CASE WHEN u.pre_n >= b.b1 THEN 1 ELSE 0 END
                    + CASE WHEN u.pre_n >= b.b2 THEN 1 ELSE 0 END
                    + CASE WHEN u.pre_n >= b.b3 THEN 1 ELSE 0 END)
                       AS stratum,
                   u.post_cents
            FROM users u CROSS JOIN med m CROSS JOIN brk b
        ),
        cells AS (
            SELECT stratum, t, CAST(COUNT(*) AS BIGINT) AS n_c,
                   CAST(SUM(post_cents) AS BIGINT) AS s_c
            FROM assigned GROUP BY stratum, t
        ),
        strata AS (
            SELECT stratum,
                   MAX(CASE WHEN t = 1 THEN n_c END) AS n1,
                   MAX(CASE WHEN t = 1 THEN s_c END) AS s1,
                   MAX(CASE WHEN t = 0 THEN n_c END) AS n0,
                   MAX(CASE WHEN t = 0 THEN s_c END) AS s0
            FROM cells GROUP BY stratum
        ),
        kept AS (
            SELECT stratum, n1, s1, n0, s0, n1 + n0 AS n_s
            FROM strata
            WHERE n1 IS NOT NULL AND n0 IS NOT NULL
                  AND n1 >= 1 AND n0 >= 1
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                   CAST(SUM(n_s) AS BIGINT) AS n_kept,
                   CAST(SUM(n1) AS BIGINT) AS n_treat,
                   CAST(SUM(n0) AS BIGINT) AS n_control,
                   CAST(SUM(s1) AS BIGINT) AS st,
                   CAST(SUM(s0) AS BIGINT) AS sc,
                   SUM(n_s * (CAST(s1 AS DOUBLE) / n1
                              - CAST(s0 AS DOUBLE) / n0)) AS wdiff
            FROM kept
        )
        SELECT n_strata,
               n_treat, n_control,
               ROUND((CAST(st AS DOUBLE) / n_treat
                      - CAST(sc AS DOUBLE) / n_control) / 100.0, 4)
                   AS naive_diff,
               ROUND(wdiff / n_kept / 100.0, 4) AS subclass_ate,
               ROUND((CAST(st AS DOUBLE) / n_treat
                      - CAST(sc AS DOUBLE) / n_control) / 100.0
                     - wdiff / n_kept / 100.0, 4) AS confounding_bias
        FROM agg
        WHERE n_strata >= 1
    """,
    doc=(
        "SUBCLASSIFICATION (STRATIFIED) ATE, Cochran 1968 — the "
        "OBSERVATIONAL causal-adjustment member the experimentation "
        "family lacked: smd_covariate_balance CHECKS whether arms are "
        "comparable, diff_in_diff adjusts with TIME, cuped with a "
        "pre-metric — this one adjusts a SELF-SELECTED exposure by "
        "stratifying on the confounder and reweighting. Exposure T = "
        "'pre-period clicks >= the exact discrete median'; outcome = "
        "post-period purchase cents; confounder strata = quartile "
        "cells of pre-period activity. Naive diff compares raw arm "
        "means (confounded: heavy users click more AND buy more); "
        "subclass ATE = sum_s (n_s/n) (ybar_t,s - ybar_c,s) over "
        "strata where BOTH arms are present (the positivity/overlap "
        "rule, mirrored), and confounding_bias = naive - adjusted is "
        "the headline 'how wrong was the naive read'. All thresholds "
        "are exact discrete quantiles selected from per-user COUNT "
        "HISTOGRAMS (value-domain-bounded grids, the mann_whitney "
        "bucket discipline — no corpus-scale sort, no collect), all "
        "moments exact integer cents; the per-user aggregate computes "
        "pre/post in ONE corpus scan via conditional sums on the "
        "exact epoch-microsecond midpoint split (the "
        "smd_covariate_balance convention). Output is one row; the "
        "only doubles are the final weighted means."
    ),
    tags=("evals", "statistics", "experimentation", "causal"),
)
def subclassification_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("lo"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("hi"),
    )
    is_pre = 2 * F.unix_micros("ts") < F.col("lo") + F.col("hi")
    users = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(is_pre, 1).otherwise(0))
            .cast("bigint")
            .alias("pre_n"),
            F.sum(
                F.when(is_pre & (F.col("event_type") == "click"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("pre_clicks"),
            F.sum(
                F.when(
                    (~is_pre) & (F.col("event_type") == "purchase"),
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("post_cents"),
        )
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def _build(users_c: DataFrame) -> DataFrame:
        ntot = users_c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        w_cum = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )

        def hist_cum(col: str) -> DataFrame:
            h = users_c.groupBy(F.col(col).alias("v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("c")
            )
            return h.select("v", F.sum("c").over(w_cum).alias("cum"))

        ccum = hist_cum("pre_clicks").crossJoin(F.broadcast(ntot))
        med = ccum.filter(
            F.col("cum") >= F.ceil(0.5 * F.col("n"))
        ).agg(F.min("v").alias("q50"))
        ecum = hist_cum("pre_n").crossJoin(F.broadcast(ntot))
        brk = ecum.agg(
            F.min(
                F.when(F.col("cum") >= F.ceil(0.25 * F.col("n")), F.col("v"))
            ).alias("b1"),
            F.min(
                F.when(F.col("cum") >= F.ceil(0.50 * F.col("n")), F.col("v"))
            ).alias("b2"),
            F.min(
                F.when(F.col("cum") >= F.ceil(0.75 * F.col("n")), F.col("v"))
            ).alias("b3"),
        )
        assigned = (
            users_c.crossJoin(F.broadcast(med))
            .crossJoin(F.broadcast(brk))
            .select(
                F.when(F.col("pre_clicks") >= F.col("q50"), 1)
                .otherwise(0)
                .alias("t"),
                (
                    F.when(F.col("pre_n") >= F.col("b1"), 1).otherwise(0)
                    + F.when(F.col("pre_n") >= F.col("b2"), 1).otherwise(0)
                    + F.when(F.col("pre_n") >= F.col("b3"), 1).otherwise(0)
                ).alias("stratum"),
                "post_cents",
            )
        )
        cells = assigned.groupBy("stratum", "t").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_c"),
            F.sum("post_cents").cast("bigint").alias("s_c"),
        )
        strata = cells.groupBy("stratum").agg(
            F.max(F.when(F.col("t") == 1, F.col("n_c"))).alias("n1"),
            F.max(F.when(F.col("t") == 1, F.col("s_c"))).alias("s1"),
            F.max(F.when(F.col("t") == 0, F.col("n_c"))).alias("n0"),
            F.max(F.when(F.col("t") == 0, F.col("s_c"))).alias("s0"),
        )
        kept = strata.filter(
            F.col("n1").isNotNull()
            & F.col("n0").isNotNull()
            & (F.col("n1") >= 1)
            & (F.col("n0") >= 1)
        ).select("*", (F.col("n1") + F.col("n0")).alias("n_s"))
        agg = kept.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
            F.sum("n_s").cast("bigint").alias("n_kept"),
            F.sum("n1").cast("bigint").alias("n_treat"),
            F.sum("n0").cast("bigint").alias("n_control"),
            F.sum("s1").cast("bigint").alias("st"),
            F.sum("s0").cast("bigint").alias("sc"),
            F.sum(
                F.col("n_s")
                * (
                    F.col("s1").cast("double") / F.col("n1")
                    - F.col("s0").cast("double") / F.col("n0")
                )
            ).alias("wdiff"),
        )
        naive = (
            F.col("st").cast("double") / F.col("n_treat")
            - F.col("sc").cast("double") / F.col("n_control")
        ) / F.lit(100.0)
        adj = F.col("wdiff") / F.col("n_kept") / F.lit(100.0)
        return agg.filter(F.col("n_strata") >= 1).select(
            "n_strata",
            "n_treat",
            "n_control",
            F.round(naive, 4).alias("naive_diff"),
            F.round(adj, 4).alias("subclass_ate"),
            F.round(naive - adj, 4).alias("confounding_bias"),
        )

    return persisted_result(users, _build)


_ROUGE_MAX_N = 2
_ROUGE_DROP = 5  # candidate = reference with every 5th token removed


@register(
    "rouge_n_generation_eval",
    oracle=f"""
        WITH split AS (
            SELECT doc_id, string_split(text, ' ') AS ref FROM documents
        ),
        toks AS (
            SELECT doc_id, ref,
                   [ref[i] FOR i IN range(1, len(ref) + 1)
                           IF i % {_ROUGE_DROP} != 0] AS cand
            FROM split
        ),
        grams AS (
            SELECT doc_id, n,
                   unnest([array_to_string(cand[i:i+n-1], ' ')
                           FOR i IN range(1, len(cand) - n + 2)]) AS gram,
                   1 AS from_cand
            FROM toks, (SELECT unnest(range(1, {_ROUGE_MAX_N} + 1)) AS n)
            UNION ALL
            SELECT doc_id, n,
                   unnest([array_to_string(ref[i:i+n-1], ' ')
                           FOR i IN range(1, len(ref) - n + 2)]) AS gram,
                   0 AS from_cand
            FROM toks, (SELECT unnest(range(1, {_ROUGE_MAX_N} + 1)) AS n)
        ),
        counts AS (
            SELECT doc_id, n, gram,
                   CAST(SUM(from_cand) AS BIGINT) AS cc,
                   CAST(COUNT(*) - SUM(from_cand) AS BIGINT) AS cr
            FROM grams GROUP BY doc_id, n, gram
        ),
        per_doc AS (
            SELECT doc_id, n,
                   CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS match_n,
                   CAST(SUM(cr) AS BIGINT) AS refn,
                   CAST(SUM(cc) AS BIGINT) AS candn
            FROM counts GROUP BY doc_id, n
        ),
        lifted AS (
            SELECT n,
                   CAST(FLOOR(CAST(match_n AS DOUBLE) / refn
                              * 1000000000.0 + 0.5) AS BIGINT) AS rq,
                   CAST(FLOOR(CAST(match_n AS DOUBLE) / candn
                              * 1000000000.0 + 0.5) AS BIGINT) AS pq,
                   CAST(FLOOR(CASE WHEN match_n = 0 THEN 0.0
                        ELSE 2.0 * (CAST(match_n AS DOUBLE) / candn)
                             * (CAST(match_n AS DOUBLE) / refn)
                             / (CAST(match_n AS DOUBLE) / candn
                                + CAST(match_n AS DOUBLE) / refn)
                        END * 1000000000.0 + 0.5) AS BIGINT) AS fq
            FROM per_doc
            WHERE refn > 0 AND candn > 0
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(rq) AS DOUBLE) / COUNT(*) / 1000000000.0, 6)
                   AS macro_recall,
               ROUND(CAST(SUM(pq) AS DOUBLE) / COUNT(*) / 1000000000.0, 6)
                   AS macro_precision,
               ROUND(CAST(SUM(fq) AS DOUBLE) / COUNT(*) / 1000000000.0, 6)
                   AS macro_f1
        FROM lifted GROUP BY n
    """,
    doc=(
        "ROUGE-N GENERATION EVAL (Lin 2004), n = 1..2 — the RECALL-"
        "oriented, MACRO-averaged complement of corpus_bleu_eval "
        "(BLEU: corpus-micro clipped PRECISION + brevity penalty; "
        "ROUGE: per-document clipped recall/precision/F1, then the "
        "unweighted document mean — the summarization-eval convention "
        "where every document counts equally, so one long document "
        "cannot dominate the corpus number the way it does in micro "
        "averaging). Candidate = the reference with every "
        f"{_ROUGE_DROP}th token dropped (a different lossy rate than "
        "BLEU's, so the two metrics are not measuring the same "
        "string); dropping cannot invent unigrams but DOES invent "
        "novel bigrams across each gap, so ROUGE-2 precision < 1 and "
        "the clipping machinery is exercised for real. Per-document "
        "P/R/F1 are ratios of exact per-doc integers (identical IEEE "
        "doubles in both engines), floor-lifted at 1e9 BEFORE the "
        "cross-document sum so the macro average is an ORDER-FREE "
        "integer sum (the corpus-scale-sum hash discipline); docs "
        "with zero ref or cand n-grams at a given n are excluded "
        "mirrored, and match=0 pins F1 = 0 ahead of the 0/0 form. "
        "Plan: one corpus scan, one (doc_id, n, gram) hash aggregate "
        "with map-side combine, one per-doc rollup, one 2-row macro "
        "reduction."
    ),
    tags=("evals", "llm", "text", "generation"),
)
def rouge_n_generation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    ref = tokens(F.col("text"))
    cand = F.filter(ref, lambda t, i: (i + 1) % _ROUGE_DROP != 0)
    toks = docs.select("doc_id", ref.alias("ref"), cand.alias("cand"))

    # ONE corpus scan: every (n, side) n-gram list is tagged into a
    # struct array on the same row and a single explode fans them out —
    # the union-of-branches form re-scanned the parquet once per
    # (n, side) combination (4 scans, caught by the plan check)
    def tagged(col: str, n: int, flag: int):
        return F.transform(
            word_ngrams(F.col(col), n),
            lambda g: F.struct(
                F.lit(n).cast("bigint").alias("n"),
                g.alias("gram"),
                F.lit(flag).alias("from_cand"),
            ),
        )

    all_grams = F.concat(
        *[tagged("cand", n, 1) for n in range(1, _ROUGE_MAX_N + 1)],
        *[tagged("ref", n, 0) for n in range(1, _ROUGE_MAX_N + 1)],
    )
    grams = toks.select(
        "doc_id", F.explode(all_grams).alias("g")
    ).select("doc_id", "g.n", "g.gram", "g.from_cand")
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.sum("from_cand").cast("bigint").alias("cc"),
        (F.count(F.lit(1)) - F.sum("from_cand")).cast("bigint").alias("cr"),
    )
    per_doc = counts.groupBy("doc_id", "n").agg(
        F.sum(F.least("cc", "cr")).cast("bigint").alias("match_n"),
        F.sum("cr").cast("bigint").alias("refn"),
        F.sum("cc").cast("bigint").alias("candn"),
    )
    r = F.col("match_n").cast("double") / F.col("refn")
    p = F.col("match_n").cast("double") / F.col("candn")
    f1 = F.when(F.col("match_n") == 0, F.lit(0.0)).otherwise(
        2.0 * p * r / (p + r)
    )
    lifted = per_doc.filter((F.col("refn") > 0) & (F.col("candn") > 0)).select(
        "n",
        F.floor(r * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("rq"),
        F.floor(p * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("pq"),
        F.floor(f1 * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("fq"),
    )
    return lifted.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("rq").cast("double") / F.count(F.lit(1)) / F.lit(1e9), 6
        ).alias("macro_recall"),
        F.round(
            F.sum("pq").cast("double") / F.count(F.lit(1)) / F.lit(1e9), 6
        ).alias("macro_precision"),
        F.round(
            F.sum("fq").cast("double") / F.count(F.lit(1)) / F.lit(1e9), 6
        ).alias("macro_f1"),
    )
