"""Cross-operator reports: the dedup CASCADE every production corpus
pipeline actually runs, as one auditable table.

Imported LAST by ``operators/__init__`` so it can reuse the already-
registered tier operators (builders AND their oracle SQL verbatim —
each registered oracle is a complete SELECT, legal as a derived table
with its own WITH chain in DuckDB, so the cascade oracle composes the
exact per-tier semantics instead of re-deriving them)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_stream_processor_spark.plans.caching import truncate_lineage
from weather_stream_processor_spark.registry import _REGISTRY, register
from weather_stream_processor_spark.sources import load_table

# tier order is cost order — each tier only pays for what cheaper tiers
# missed; the report's n_new column IS the marginal value of each tier
_CASCADE_TIERS = (
    ("exact_sha256", None),  # tier 1 is inlined (digest grouping)
    ("jaccard_0.8", "ngram_jaccard_pairs"),
    ("simhash_h3", "simhash_hamming_near_dup"),
    ("embedding_cosine", "embedding_cosine_near_dup"),
)


def _cascade_oracle() -> str:
    jac = _REGISTRY["ngram_jaccard_pairs"].oracle
    sim = _REGISTRY["simhash_hamming_near_dup"].oracle
    emb = _REGISTRY["embedding_cosine_near_dup"].oracle
    return f"""
        WITH digs AS (
            SELECT doc_id, sha256(text) AS dig FROM documents
        ),
        f1 AS (
            SELECT doc_id FROM (
                SELECT doc_id, MIN(doc_id) OVER (PARTITION BY dig) AS keeper
                FROM digs
            ) WHERE doc_id <> keeper
        ),
        f2 AS (SELECT DISTINCT doc_b AS doc_id FROM ({jac})),
        f3 AS (SELECT DISTINCT doc_b AS doc_id FROM ({sim})),
        f4 AS (SELECT DISTINCT vec_id_b AS doc_id FROM ({emb})),
        flags AS (
            SELECT doc_id, 1 AS tier_rank FROM f1
            UNION ALL SELECT doc_id, 2 FROM f2
            UNION ALL SELECT doc_id, 3 FROM f3
            UNION ALL SELECT doc_id, 4 FROM f4
        ),
        firsts AS (
            SELECT doc_id, MIN(tier_rank) AS first_tier FROM flags
            GROUP BY doc_id
        ),
        news AS (
            SELECT first_tier AS tier_rank, CAST(COUNT(*) AS BIGINT) AS n_new
            FROM firsts GROUP BY first_tier
        ),
        own AS (
            SELECT tier_rank, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_flagged
            FROM flags GROUP BY tier_rank
        ),
        n_docs AS (SELECT COUNT(*) AS n FROM documents),
        tiers(tier_rank, tier) AS (VALUES
            (1, 'exact_sha256'), (2, 'jaccard_0.8'),
            (3, 'simhash_h3'), (4, 'embedding_cosine'))
        SELECT t.tier_rank, t.tier,
               COALESCE(o.n_flagged, 0) AS n_flagged,
               COALESCE(w.n_new, 0) AS n_new,
               CAST(SUM(COALESCE(w.n_new, 0)) OVER (
                   ORDER BY t.tier_rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_flagged,
               ROUND(SUM(COALESCE(w.n_new, 0)) OVER (
                   ORDER BY t.tier_rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) * 1.0 / ANY_VALUE(d.n) OVER (), 6) AS corpus_frac
        FROM tiers t
        LEFT JOIN own o USING (tier_rank)
        LEFT JOIN news w USING (tier_rank)
        CROSS JOIN n_docs d
    """


@register(
    "dedup_cascade_report",
    oracle=_cascade_oracle(),
    doc=(
        "DEDUP CASCADE REPORT: the four near-dup tiers this engine ships "
        "— exact sha-256, word-3-gram Jaccard >= 0.8, SimHash Hamming "
        "<= 3, embedding cosine — run as the cost-ordered cascade a "
        "production corpus pipeline actually deploys, with each tier's "
        "own flag count, its MARGINAL catch (docs no cheaper tier "
        "already flagged — the column that justifies or kills a tier's "
        "compute budget), the cumulative removal, and the corpus "
        "fraction. Flag rule is uniform and deterministic: a doc is "
        "flagged by a tier iff it is the larger id of at least one of "
        "that tier's pairs (min-id survivor convention, matching "
        "near_dup_keep_list). Plan: each tier reuses its registered "
        "operator's execution verbatim (banded/blocked joins, never "
        "all-pairs); flag sets are doc_id-only unions aggregated to a "
        "4-row report — the report layer adds one flags-keyed "
        "aggregate on top of the tiers, nothing corpus-sized. The "
        "oracle embeds the tier operators' registered oracle SQL as "
        "derived tables, so the cascade is hash-verified against the "
        "same per-tier semantics the driver already checks "
        "individually."
    ),
    tags=("dedup", "llm", "report", "headline"),
)
def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.operators.dedup import (
        _ngram_jaccard_core,
        _simhash_buckets_core,
        _simhash_pairs_core,
    )
    # The three TEXT tiers (sha digest, shingle Jaccard, SimHash) plus the
    # doc count each scan the pruned (doc_id, text) projection. MEASURED
    # decision (r6, sf0.1, same-session A/B x3 passes): persisting that
    # scan once via persisted_result and feeding every tier from the
    # cache was ~1.45x SLOWER (10.8-12.3s vs 7.3-8.8s) with identical
    # results — the columnar parquet re-scan with pushdown is cheaper
    # than materializing the text column into the block store, and the
    # persist barrier splits what is otherwise ONE fully-parallel job
    # into sequential materialize-then-consume phases; each tier's
    # dominant cost is its own shuffle, not the scan. RE-MEASURED r10
    # (registry 2x larger, sf0.1, x3 passes after warm-up): no-persist
    # 4.3-5.9s vs persist 6.5-7.7s — the same ~1.4x penalty; decision
    # re-confirmed. So the tiers deliberately share the LOGICAL plan only
    # (the cores below are the registered operators' exact bodies); at
    # 100 TB the same reasoning holds harder — nobody caches the raw
    # text column of a corpus, and scan-amortization belongs to the
    # storage layer. See BASELINE.md (r6 + r10 cascade-persist
    # measurements).
    docs_scan = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _build(docs: DataFrame) -> DataFrame:
        digs = docs.select("doc_id", F.sha2("text", 256).alias("dig"))
        keeper = F.min("doc_id").over(Window.partitionBy("dig"))

        # r11 (guide §2.6: overlap independent jobs): the Jaccard and
        # SimHash cores now lineage-cut their self-joined index tables
        # (postings / fingerprints), which makes their builder() calls
        # EAGER — called sequentially they serialized the tier builds and
        # the cascade regressed 4.05 -> ~6.0 s. The four tier frames are
        # independent, so their builders run from a small thread pool:
        # each eager checkpoint job back-fills executors freed by the
        # others' tails, and the union job then reads the checkpoints.
        # Measured: 5.99 -> 4.18 s warm (parity with the pre-cut cascade,
        # while the standalone dedup queries keep their ~1.7x wins).
        def _t1() -> DataFrame:
            return (
                digs.select("doc_id", keeper.alias("keeper"))
                .filter(F.col("doc_id") != F.col("keeper"))
                .select("doc_id")
            )

        def _t2() -> DataFrame:
            return _ngram_jaccard_core(docs).select(
                F.col("doc_b").alias("doc_id")
            ).distinct()

        def _t3() -> DataFrame:
            return _simhash_pairs_core(
                _simhash_buckets_core(docs).select("doc_id", "simhash")
            ).select(F.col("doc_b").alias("doc_id")).distinct()

        def _t4() -> DataFrame:
            return (
                _REGISTRY["embedding_cosine_near_dup"]
                .builder(spark, sf_dir)
                .select(F.col("vec_id_b").alias("doc_id"))
                .distinct()
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            f1, f2, f3, f4 = [
                fut.result()
                for fut in [pool.submit(t) for t in (_t1, _t2, _t3, _t4)]
            ]
        flags = None
        for rank, df in ((1, f1), (2, f2), (3, f3), (4, f4)):
            part = df.select("doc_id", F.lit(rank).alias("tier_rank"))
            flags = part if flags is None else flags.unionAll(part)

        # r11 (guide §2.4): `flags` used to feed TWO aggregations (min
        # tier per doc, countDistinct per tier) with different groupings,
        # so the physical plan duplicated the ENTIRE four-tier union —
        # every shuffle and scan executed twice (112 Exchange+Scan nodes,
        # two mirrored subtrees). One doc-keyed aggregate now captures
        # both facts (first tier + the per-doc tier set, ≤4 ints), and a
        # lineage cut materializes that flagged-docs-scale frame ONCE;
        # both report aggregates consume the checkpoint scan. This is NOT
        # the rejected r6/r10 cascade persist (which cached the corpus
        # TEXT scan and serialized the tier jobs): the tiers still run as
        # one fully-parallel job, and what persists is O(flagged docs) of
        # narrow ints — at 100 TB the tier outputs, never the corpus.
        per_doc = truncate_lineage(
            flags.groupBy("doc_id").agg(
                F.min("tier_rank").alias("first_tier"),
                F.collect_set("tier_rank").alias("tiers"),
            )
        )
        news = per_doc.groupBy(F.col("first_tier").alias("tier_rank")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new")
        )
        # tiers is a per-doc SET, so after the explode each (doc, tier)
        # pair appears exactly once: count == the old countDistinct
        own = (
            per_doc.select(F.explode("tiers").alias("tier_rank"))
            .groupBy("tier_rank")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
        )
        n_docs = docs.count()  # 1-row driver scalar, bounded; reads the cache

        tiers = spark.createDataFrame(
            [(rank + 1, name) for rank, (name, _) in enumerate(_CASCADE_TIERS)],
            "tier_rank int, tier string",
        )
        w = (
            Window.orderBy("tier_rank")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            tiers.join(own, "tier_rank", "left")
            .join(news, "tier_rank", "left")
            .select(
                "tier_rank",
                "tier",
                F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
                F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
                # 4-row frame: the unpartitioned window is bounded by the
                # tier count, not the corpus
                F.sum(F.coalesce("n_new", F.lit(0))).over(w).cast("bigint").alias(
                    "cum_flagged"
                ),
                F.round(
                    F.sum(F.coalesce("n_new", F.lit(0))).over(w)
                    / F.lit(float(n_docs)),
                    6,
                ).alias("corpus_frac"),
            )
        )

    return _build(docs_scan)


_KANON_K = 5  # minimum anonymity-set size (the classic k in k-anonymity)
_KANON_LEN_BUCKET = 100  # chars per length bucket (quasi-identifier 3)


@register(
    "k_anonymity_audit",
    oracle=f"""
        WITH combos AS (
            SELECT lang, source,
                   CAST(FLOOR(n_chars / {_KANON_LEN_BUCKET}) AS BIGINT)
                       AS len_bucket,
                   CAST(COUNT(*) AS BIGINT) AS anonymity_set
            FROM documents
            GROUP BY 1, 2, 3
        ),
        tot AS (SELECT SUM(anonymity_set) AS n FROM combos)
        SELECT lang, source, len_bucket, anonymity_set,
               CAST(anonymity_set < {_KANON_K} AS INT) AS at_risk,
               ROUND(anonymity_set * 1.0 / tot.n, 6) AS doc_share
        FROM combos CROSS JOIN tot
    """,
    doc=(
        f"K-ANONYMITY AUDIT over the release-metadata quasi-identifiers "
        f"(lang, source, {_KANON_LEN_BUCKET}-char length bucket): the "
        "anonymity set of each combination — how many documents share "
        f"it — with combos below k={_KANON_K} flagged, the privacy "
        "screen run before publishing a corpus WITH its provenance "
        "metadata (Sweeney's k-anonymity: a document unique in its "
        "quasi-identifier combo is re-identifiable from metadata alone "
        "even with the text redacted; pii_scrub removes identifiers IN "
        "the text, this catches identification BY the catalog row). "
        "Plan: one scan, one hash aggregate on the quasi-identifier "
        "tuple — partial map-side combine, output bounded by the "
        "attribute-domain product (|langs| x |sources| x buckets), a "
        "1-row total broadcast for the share column. At 100 TB this is "
        "the cheapest query in the audit family; generalization ladders "
        "(coarsen buckets until min anonymity_set >= k) just re-run it "
        "with a different bucket width."
    ),
    tags=("audit", "llm", "privacy", "curation"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    combos = (
        docs.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / _KANON_LEN_BUCKET)
            .cast("bigint")
            .alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("anonymity_set"))
    )
    tot = combos.agg(F.sum("anonymity_set").alias("n"))
    return combos.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "len_bucket",
        "anonymity_set",
        (F.col("anonymity_set") < _KANON_K).cast("int").alias("at_risk"),
        F.round(F.col("anonymity_set") / F.col("n"), 6).alias("doc_share"),
    )


# --- the corpus RELEASE AUDIT: every ship-gate as one table -----------------

_RELEASE_GATES = (
    (1, "exact_sha256"),
    (2, "near_dup_jaccard"),
    (3, "quality_gopher"),
    (4, "repetition"),
    (5, "decontamination"),
    (6, "memorization"),
    (7, "privacy_combo"),
)
_PRIV_LEN_BUCKET = 100  # the shared quasi-identifier bucketing


def _release_oracle() -> str:
    keep_list = _REGISTRY["near_dup_keep_list"].oracle
    gopher = _REGISTRY["gopher_quality_rules"].oracle
    rep = _REGISTRY["repetition_quality_filter"].oracle
    decon = _REGISTRY["decontamination_overlap"].oracle
    memo = _REGISTRY["memorization_risk_scores"].oracle
    kanon = _REGISTRY["k_anonymity_audit"].oracle
    ldiv = _REGISTRY["l_diversity_audit"].oracle
    tclose = _REGISTRY["t_closeness_audit"].oracle
    return f"""
        WITH g1 AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
                FROM documents
            ) WHERE doc_id <> keeper
        ),
        g2 AS (SELECT doc_id FROM ({keep_list}) WHERE NOT keep),
        g3 AS (SELECT doc_id FROM ({gopher}) WHERE NOT keep),
        g4 AS (SELECT doc_id FROM ({rep}) WHERE NOT keep),
        g5 AS (SELECT doc_id FROM ({decon})),
        g6 AS (SELECT doc_id FROM ({memo}) WHERE action = 'trim'),
        dk AS (
            SELECT doc_id, lang, source,
                   CAST(FLOOR(n_chars / {_PRIV_LEN_BUCKET}) AS BIGINT)
                       AS len_bucket
            FROM documents
        ),
        pk AS (SELECT lang, source, len_bucket
               FROM ({kanon}) WHERE at_risk = 1),
        pl AS (SELECT lang, len_bucket FROM ({ldiv})
               WHERE at_risk_distinct = 1 OR at_risk_entropy = 1),
        pt AS (SELECT lang, len_bucket FROM ({tclose}) WHERE at_risk = 1),
        g7 AS (
            SELECT d.doc_id FROM dk d JOIN pk USING (lang, source, len_bucket)
            UNION
            SELECT d.doc_id FROM dk d JOIN pl USING (lang, len_bucket)
            UNION
            SELECT d.doc_id FROM dk d JOIN pt USING (lang, len_bucket)
        ),
        flags AS (
            SELECT 1 AS gate_rank, 'exact_sha256' AS gate, doc_id FROM g1
            UNION ALL SELECT 2, 'near_dup_jaccard', doc_id FROM g2
            UNION ALL SELECT 3, 'quality_gopher', doc_id FROM g3
            UNION ALL SELECT 4, 'repetition', doc_id FROM g4
            UNION ALL SELECT 5, 'decontamination', doc_id FROM g5
            UNION ALL SELECT 6, 'memorization', doc_id FROM g6
            UNION ALL SELECT 7, 'privacy_combo', doc_id FROM g7
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        gates(gate_rank, gate) AS (VALUES
            {", ".join(f"({r}, '{g}')" for r, g in _RELEASE_GATES)}),
        per_gate AS (
            SELECT g.gate_rank, g.gate,
                   CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_flagged
            FROM gates g LEFT JOIN flags f USING (gate_rank)
            GROUP BY g.gate_rank, g.gate
        ),
        anyg AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
                 FROM flags)
        SELECT p.gate_rank, p.gate, p.n_flagged,
               ROUND(p.n_flagged * 1.0 / d.n, 6) AS corpus_frac
        FROM per_gate p CROSS JOIN nd d
        UNION ALL
        SELECT 8, 'any_gate', a.n, ROUND(a.n * 1.0 / d.n, 6)
        FROM anyg a CROSS JOIN nd d
        UNION ALL
        SELECT 9, 'released_clean', d.n - a.n,
               ROUND((d.n - a.n) * 1.0 / d.n, 6)
        FROM anyg a CROSS JOIN nd d
    """


@register(
    "release_audit_report",
    oracle=_release_oracle(),
    doc=(
        "CORPUS RELEASE AUDIT — the dataset-release checklist as ONE "
        "hash-verified table: the seven ship-gates a production corpus "
        "passes before publication (exact sha-256 dedup, Jaccard "
        "near-dup keep-list, Gopher quality rules, repetition screen, "
        "benchmark decontamination, memorization-risk trim, and the "
        "combined privacy audit — a doc fails privacy if its "
        "quasi-identifier combo fails ANY of k-anonymity, l-diversity, "
        "or t-closeness), each with its flagged-document count and "
        "corpus fraction, then the union row ('any_gate' — docs blocked "
        "by at least one gate) and the bottom line ('released_clean'). "
        "Where dedup_cascade_report measures the marginal value of "
        "dedup TIERS, this composes ACROSS gate families — the table a "
        "data lead actually signs off on. Every gate reuses its "
        "registered operator's execution verbatim (the oracle embeds "
        "the registered oracle SQL as derived tables, so the driver's "
        "hash certifies the whole pipeline through the same semantics "
        "it already checks per-gate); flag sets are doc_id-only "
        "projections unioned and folded to a 9-row report — the report "
        "layer adds one flags-keyed aggregate on top of the gates, "
        "nothing corpus-sized. At 100 TB the gates run as independent "
        "jobs writing doc_id flag sets; the report is their union — "
        "embarrassingly parallel across gate families."
    ),
    tags=("report", "llm", "curation", "privacy", "dedup", "headline"),
)
def release_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flags = _release_audit_flags(spark, sf_dir, docs)
    # r11 (guide §2.4): `flags` feeds TWO aggregations (per-gate distinct
    # counts and the any-gate distinct count), so the physical plan
    # duplicated the ENTIRE seven-gate union — 45 parquet scans / 72
    # Exchanges, every gate executed twice. The flag set is O(flagged
    # docs) rows of (int, string, long) — the §2.4 cuttable class, never
    # the corpus — so one lineage cut materializes the gates ONCE (one
    # fully-parallel union job) and both report aggregates consume the
    # checkpoint scan. Same shape as dedup_cascade_report's per_doc cut.
    # The bounded joins that execute inside this checkpoint job are
    # audited under lazy_cuts() by test_release_audit_gate_union_surface
    # (r11 advice: eager cuts must not shrink guard coverage).
    flags = truncate_lineage(flags)
    n_docs = docs.count()  # 1-row driver scalar, bounded (cascade precedent)
    # left-join the 7-row gate spec so zero-flag gates still report
    # (a 0 is sign-off information, not absence)
    gates = spark.createDataFrame(
        list(_RELEASE_GATES), "gate_rank int, gate string"
    )
    per_gate = (
        gates.join(
            flags.select("gate_rank", "doc_id"), "gate_rank", "left"
        )
        .groupBy("gate_rank", "gate")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_flagged"))
    )
    anyg = flags.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_any")
    )
    summary = anyg.select(
        F.lit(8).alias("gate_rank"),
        F.lit("any_gate").alias("gate"),
        F.col("n_any").alias("n_flagged"),
    ).unionAll(
        anyg.select(
            F.lit(9).alias("gate_rank"),
            F.lit("released_clean").alias("gate"),
            (F.lit(n_docs) - F.col("n_any")).cast("bigint").alias("n_flagged"),
        )
    )
    return per_gate.unionAll(summary).select(
        "gate_rank",
        "gate",
        "n_flagged",
        F.round(F.col("n_flagged") * 1.0 / F.lit(float(n_docs)), 6).alias(
            "corpus_frac"
        ),
    )


def _release_audit_flags(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """The seven-gate flags union: (gate_rank, gate, doc_id) per flag."""
    from pyspark.sql.window import Window

    digs = docs.select("doc_id", F.sha2("text", 256).alias("dig"))
    keeper = F.min("doc_id").over(Window.partitionBy("dig"))

    # r11 (guide §2.6, the cascade precedent): several gate builders are
    # EAGER (near_dup_keep_list runs the connected-components rounds,
    # memorization/decontamination cut their index frames), so calling
    # them sequentially serialized their internal jobs. The seven gate
    # frames are independent — build them from a thread pool so each
    # eager job back-fills executors freed by the others' tails.
    def _g1() -> DataFrame:
        return (
            digs.select("doc_id", keeper.alias("keeper"))
            .filter(F.col("doc_id") != F.col("keeper"))
            .select("doc_id")
        )

    def _g2() -> DataFrame:
        return (
            _REGISTRY["near_dup_keep_list"]
            .builder(spark, sf_dir)
            .filter(~F.col("keep"))
            .select("doc_id")
        )

    def _g3() -> DataFrame:
        return (
            _REGISTRY["gopher_quality_rules"]
            .builder(spark, sf_dir)
            .filter(~F.col("keep"))
            .select("doc_id")
        )

    def _g4() -> DataFrame:
        return (
            _REGISTRY["repetition_quality_filter"]
            .builder(spark, sf_dir)
            .filter(~F.col("keep"))
            .select("doc_id")
        )

    def _g5() -> DataFrame:
        return _REGISTRY["decontamination_overlap"].builder(spark, sf_dir).select(
            "doc_id"
        )

    def _g6() -> DataFrame:
        return (
            _REGISTRY["memorization_risk_scores"]
            .builder(spark, sf_dir)
            .filter(F.col("action") == "trim")
            .select("doc_id")
        )

    def _g7() -> DataFrame:
        dk = docs.select(
            "doc_id",
            "lang",
            "source",
            F.floor(F.col("n_chars") / _PRIV_LEN_BUCKET)
            .cast("bigint")
            .alias("len_bucket"),
        )
        pk = (
            _REGISTRY["k_anonymity_audit"]
            .builder(spark, sf_dir)
            .filter(F.col("at_risk") == 1)
            .select("lang", "source", "len_bucket")
        )
        pl = (
            _REGISTRY["l_diversity_audit"]
            .builder(spark, sf_dir)
            .filter(
                (F.col("at_risk_distinct") == 1) | (F.col("at_risk_entropy") == 1)
            )
            .select("lang", "len_bucket")
        )
        pt = (
            _REGISTRY["t_closeness_audit"]
            .builder(spark, sf_dir)
            .filter(F.col("at_risk") == 1)
            .select("lang", "len_bucket")
        )
        return (
            dk.join(F.broadcast(pk), ["lang", "source", "len_bucket"])
            .select("doc_id")
            .union(dk.join(F.broadcast(pl), ["lang", "len_bucket"]).select("doc_id"))
            .union(dk.join(F.broadcast(pt), ["lang", "len_bucket"]).select("doc_id"))
            .distinct()
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=7) as pool:
        gate_frames = [
            fut.result()
            for fut in [
                pool.submit(t) for t in (_g1, _g2, _g3, _g4, _g5, _g6, _g7)
            ]
        ]
    gate_dfs = dict(zip([g for _, g in _RELEASE_GATES], gate_frames))
    flags = None
    for rank, gate in _RELEASE_GATES:
        part = gate_dfs[gate].select(
            F.lit(rank).alias("gate_rank"),
            F.lit(gate).alias("gate"),
            "doc_id",
        )
        flags = part if flags is None else flags.unionAll(part)
    return flags


def _metric_rows(df: DataFrame, pairs) -> DataFrame:
    """N (metric, value) rows from ONE select over a constituent frame.

    r11 (guide §2.4): the composite reports used to take each metric row
    as its own select over the constituent DataFrame, and Catalyst
    physically re-executes the constituent's whole subplan per consumer
    (brier ran 4x inside the scorecard, ks/chi/mwu 2x inside the drift
    panel). Emitting every metric in one select and exploding the
    (metric, value) structs to rows keeps each constituent
    single-consumer — identical values, one execution."""
    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        (c if not isinstance(c, str) else F.col(c))
                        .cast("double")
                        .alias("value"),
                    )
                    for m, c in pairs
                ]
            )
        ).alias("kv")
    ).select("kv.metric", "kv.value")


# ---------------------------------------------------------------------------
# Model-eval scorecard (round-5v): the evaluation family composed into one
# report, constituents' registered semantics reused verbatim.
# ---------------------------------------------------------------------------


def _scorecard_oracle() -> str:
    auc = _REGISTRY["roc_auc_exact"].oracle
    ap = _REGISTRY["average_precision_exact"].oracle
    ece = _REGISTRY["calibration_bins_ece"].oracle
    brier = _REGISTRY["brier_score_decomposition"].oracle
    gains = _REGISTRY["cumulative_gains_deciles"].oracle
    return f"""
        SELECT 'auc' AS metric, auc AS value FROM ({auc})
        UNION ALL SELECT 'gini', gini FROM ({auc})
        UNION ALL SELECT 'average_precision', average_precision FROM ({ap})
        UNION ALL SELECT 'prevalence', prevalence FROM ({ap})
        UNION ALL SELECT 'ece', MAX(ece) FROM ({ece})
        UNION ALL SELECT 'brier', brier FROM ({brier})
        UNION ALL SELECT 'brier_reliability', reliability FROM ({brier})
        UNION ALL SELECT 'brier_resolution', resolution FROM ({brier})
        UNION ALL SELECT 'brier_uncertainty', uncertainty FROM ({brier})
        UNION ALL SELECT 'lift_top_decile',
                         MAX(CASE WHEN decile = 1 THEN lift END)
                  FROM ({gains})
    """


@register(
    "eval_scorecard_report",
    oracle=_scorecard_oracle(),
    doc=(
        "MODEL-EVAL SCORECARD: the quality score's complete evaluation "
        "in ONE long-form table — discrimination (AUC/Gini, average "
        "precision vs the prevalence baseline), calibration (ECE, the "
        "Brier Murphy terms), and business yield (lift in the top "
        "decile) — every row produced by the REGISTERED constituent "
        "operator's execution and oracle SQL verbatim (the "
        "dedup_cascade_report composition pattern, applied to the "
        "evaluation family), so the scorecard can never drift from the "
        "operators it summarizes. This is the one-table answer to 'can "
        "we ship this quality filter': honest probabilities (ECE/"
        "reliability), real separation (AUC/AP over prevalence), and "
        "what the top-decile budget actually buys (lift). The wall "
        "tracks the sum of its five constituents; at 100 TB each "
        "constituent is one bounded-grid pass over the same scored "
        "projection."
    ),
    tags=("evals", "llm", "report", "capstone"),
)
def eval_scorecard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    auc = _REGISTRY["roc_auc_exact"].builder(spark, sf_dir)
    ap = _REGISTRY["average_precision_exact"].builder(spark, sf_dir)
    ece = _REGISTRY["calibration_bins_ece"].builder(spark, sf_dir)
    brier = _REGISTRY["brier_score_decomposition"].builder(spark, sf_dir)
    gains = _REGISTRY["cumulative_gains_deciles"].builder(spark, sf_dir)

    rows = [
        _metric_rows(auc, [("auc", "auc"), ("gini", "gini")]),
        _metric_rows(
            ap, [("average_precision", "average_precision"), ("prevalence", "prevalence")]
        ),
        ece.agg(F.max("ece").alias("value")).select(
            F.lit("ece").alias("metric"), "value"
        ),
        _metric_rows(
            brier,
            [
                ("brier", "brier"),
                ("brier_reliability", "reliability"),
                ("brier_resolution", "resolution"),
                ("brier_uncertainty", "uncertainty"),
            ],
        ),
        gains.agg(
            F.max(F.when(F.col("decile") == 1, F.col("lift"))).alias("value")
        ).select(F.lit("lift_top_decile").alias("metric"), "value"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Experiment readout (round-5x): the experimentation family composed into
# the one table an experiment review actually reads.
# ---------------------------------------------------------------------------


def _readout_oracle() -> str:
    srm = _REGISTRY["sample_ratio_mismatch_check"].oracle
    lift = _REGISTRY["ab_conversion_lift"].oracle
    ratio = _REGISTRY["ratio_metric_delta_method"].oracle
    cuped = _REGISTRY["cuped_variance_reduction"].oracle
    did = _REGISTRY["diff_in_diff_estimator"].oracle
    qini = _REGISTRY["qini_curve_deciles"].oracle
    return f"""
        SELECT 'srm_p_value' AS metric, p_value AS value FROM ({srm})
        UNION ALL SELECT 'srm_flag', CASE WHEN srm_flag THEN 1.0 ELSE 0.0 END
                  FROM ({srm})
        UNION ALL SELECT 'conversion_abs_lift', abs_lift FROM ({lift})
        UNION ALL SELECT 'conversion_z', z_score FROM ({lift})
        UNION ALL SELECT 'ratio_metric_diff', diff FROM ({ratio})
        UNION ALL SELECT 'ratio_metric_p', p_value FROM ({ratio})
        UNION ALL SELECT 'cuped_var_reduction', var_reduction FROM ({cuped})
        UNION ALL SELECT 'did_estimate', did_estimate FROM ({did})
        UNION ALL SELECT 'did_pre_trend_gap', pre_trend_gap FROM ({did})
        UNION ALL SELECT 'qini_top_decile',
                         MAX(CASE WHEN decile = 1 THEN qini END)
                  FROM ({qini})
    """


@register(
    "experiment_readout_report",
    oracle=_readout_oracle(),
    doc=(
        "EXPERIMENT READOUT: the full experimentation family composed "
        "into one long-form table in review order — validity first "
        "(sample-ratio-mismatch p and flag: if this row is red, stop "
        "reading), then the effect (binary conversion lift + z, the "
        "delta-method ratio-metric difference + p), measurement "
        "efficiency (CUPED variance reduction), robustness (DiD "
        "estimate with its parallel-trends gap), and targeting value "
        "(Qini at the top decile). Every row reuses the registered "
        "constituent's execution and oracle SQL verbatim (the "
        "capstone composition pattern of dedup_cascade_report / "
        "eval_scorecard_report), so the readout cannot drift from the "
        "operators it summarizes; the wall tracks the sum of its six "
        "constituents, each a bounded-aggregate pass."
    ),
    tags=("evals", "experimentation", "report", "capstone"),
)
def experiment_readout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    srm = _REGISTRY["sample_ratio_mismatch_check"].builder(spark, sf_dir)
    lift = _REGISTRY["ab_conversion_lift"].builder(spark, sf_dir)
    ratio = _REGISTRY["ratio_metric_delta_method"].builder(spark, sf_dir)
    cuped = _REGISTRY["cuped_variance_reduction"].builder(spark, sf_dir)
    did = _REGISTRY["diff_in_diff_estimator"].builder(spark, sf_dir)
    qini = _REGISTRY["qini_curve_deciles"].builder(spark, sf_dir)

    rows = [
        _metric_rows(
            srm,
            [
                ("srm_p_value", "p_value"),
                ("srm_flag", F.when(F.col("srm_flag"), 1.0).otherwise(0.0)),
            ],
        ),
        _metric_rows(
            lift, [("conversion_abs_lift", "abs_lift"), ("conversion_z", "z_score")]
        ),
        _metric_rows(ratio, [("ratio_metric_diff", "diff"), ("ratio_metric_p", "p_value")]),
        _metric_rows(cuped, [("cuped_var_reduction", "var_reduction")]),
        _metric_rows(
            did, [("did_estimate", "did_estimate"), ("did_pre_trend_gap", "pre_trend_gap")]
        ),
        qini.agg(
            F.max(F.when(F.col("decile") == 1, F.col("qini"))).alias("value")
        ).select(F.lit("qini_top_decile").alias("metric"), "value"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Drift panel (round-5z+): the five drift detectors composed into the one
# monitoring table a data-quality dashboard renders.
# ---------------------------------------------------------------------------


def _drift_panel_oracle() -> str:
    psi = _REGISTRY["psi_feature_drift"].oracle
    ks = _REGISTRY["ks_drift_two_sample"].oracle
    w1 = _REGISTRY["wasserstein_drift_1d"].oracle
    chi = _REGISTRY["lang_source_chi_square"].oracle
    mwu = _REGISTRY["mann_whitney_u_test"].oracle
    kl = _REGISTRY["mixture_drift_kl"].oracle
    return f"""
        SELECT 'psi_total' AS metric,
               CAST(SUM(CAST(ROUND(psi_term * 1000000000.0) AS BIGINT))
                    AS DOUBLE) / 1000000000.0 AS value FROM ({psi})
        UNION ALL SELECT 'ks_stat', ks_stat FROM ({ks})
        UNION ALL SELECT 'ks_drifted',
                         CASE WHEN drifted THEN 1.0 ELSE 0.0 END FROM ({ks})
        UNION ALL SELECT 'w1_distance', w1_distance FROM ({w1})
        UNION ALL SELECT 'chi_square', chi_square FROM ({chi})
        UNION ALL SELECT 'cramers_v', cramers_v FROM ({chi})
        UNION ALL SELECT 'mwu_z', z_score FROM ({mwu})
        UNION ALL SELECT 'mwu_p', p_value FROM ({mwu})
        UNION ALL SELECT 'kl_divergence',
                         CAST(SUM(CAST(ROUND(kl_term * 1000000.0) AS BIGINT))
                              AS DOUBLE) / 1000000.0 FROM ({kl})
    """


@register(
    "drift_panel_report",
    oracle=_drift_panel_oracle(),
    doc=(
        "DRIFT PANEL: the repo's five drift detectors composed into one "
        "long-form monitoring table — PSI (binned share shift), KS "
        "(CDF sup gap + its alpha=.05 call), 1-D Wasserstein (CDF "
        "integral with real widths), chi-square + Cramer's V "
        "(categorical association), Mann-Whitney z/p (rank location "
        "shift), and the sample-vs-corpus KL divergence — each "
        "detector blind to shifts another catches (PSI misses "
        "mass-preserving shape shifts, KS under-weights tails, rank "
        "tests ignore scale), which is why production monitors run the "
        "panel, not a favorite. Every row reuses the registered "
        "constituent's execution and oracle SQL verbatim (the capstone "
        "composition pattern); per-bucket detectors (PSI, KL) fold to "
        "their total with the same SUM the metric definition "
        "prescribes."
    ),
    tags=("sampling", "drift", "report", "capstone", "quality"),
)
def drift_panel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    psi = _REGISTRY["psi_feature_drift"].builder(spark, sf_dir)
    ks = _REGISTRY["ks_drift_two_sample"].builder(spark, sf_dir)
    w1 = _REGISTRY["wasserstein_drift_1d"].builder(spark, sf_dir)
    chi = _REGISTRY["lang_source_chi_square"].builder(spark, sf_dir)
    mwu = _REGISTRY["mann_whitney_u_test"].builder(spark, sf_dir)
    kl = _REGISTRY["mixture_drift_kl"].builder(spark, sf_dir)

    def one(df: DataFrame, metric: str, col) -> DataFrame:
        return df.select(
            F.lit(metric).alias("metric"),
            (col if not isinstance(col, str) else F.col(col))
            .cast("double")
            .alias("value"),
        )

    # ks/chi/mwu each feed two metric rows: _metric_rows keeps them
    # single-consumer (was 51 Exchange / 23 scans with per-row selects,
    # now 35 / 16; A/B 3.24 → 2.96 s at sf0.01, outputs identical)
    # PSI/KL fold to their totals over ALREADY-ROUNDED per-bucket terms
    # (9dp / 6dp), so the fold integer-lifts them first: the scaled terms
    # are exact integers, the SUM is permutation-invariant, and both
    # engines bit-agree at any partitioning. A raw double SUM here failed
    # the r6 driver-strict mirror by 1 ulp (summation-order drift) —
    # same lesson as embedding_covariance_spectrum.
    rows = [
        psi.agg(
            (
                F.sum(F.round(F.col("psi_term") * 1000000000.0).cast("bigint"))
                .cast("double")
                / 1000000000.0
            ).alias("value")
        ).select(F.lit("psi_total").alias("metric"), "value"),
        _metric_rows(
            ks,
            [
                ("ks_stat", "ks_stat"),
                ("ks_drifted", F.when(F.col("drifted"), 1.0).otherwise(0.0)),
            ],
        ),
        one(w1, "w1_distance", "w1_distance"),
        _metric_rows(chi, [("chi_square", "chi_square"), ("cramers_v", "cramers_v")]),
        _metric_rows(mwu, [("mwu_z", "z_score"), ("mwu_p", "p_value")]),
        kl.agg(
            (
                F.sum(F.round(F.col("kl_term") * 1000000.0).cast("bigint"))
                .cast("double")
                / 1000000.0
            ).alias("value")
        ).select(F.lit("kl_divergence").alias("metric"), "value"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Capture-recapture duplicate estimation (round-6a): how many near-dup
# pairs exist beyond what any single detector catches.
# ---------------------------------------------------------------------------


def _capture_recapture_oracle() -> str:
    jac = _REGISTRY["ngram_jaccard_pairs"].oracle
    sim = _REGISTRY["simhash_hamming_near_dup"].oracle
    return f"""
        WITH c1 AS (SELECT DISTINCT doc_a, doc_b FROM ({jac})),
        c2 AS (SELECT DISTINCT doc_a, doc_b FROM ({sim})),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
              FROM c1 JOIN c2 USING (doc_a, doc_b)),
        n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM c1),
        n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM c2)
        SELECT n1.n1 AS caught_jaccard, n2.n2 AS caught_simhash, m.m AS overlap,
               ROUND((n1.n1 + 1.0) * (n2.n2 + 1.0) / (m.m + 1.0) - 1.0, 2)
                   AS chapman_estimate,
               ROUND(sqrt((n1.n1 + 1.0) * (n2.n2 + 1.0)
                          * (n1.n1 - m.m) * (n2.n2 - m.m)
                          / ((m.m + 1.0) * (m.m + 1.0) * (m.m + 2.0))), 2)
                   AS chapman_se
        FROM n1 CROSS JOIN n2 CROSS JOIN m
    """


@register(
    "capture_recapture_dup_estimate",
    oracle=_capture_recapture_oracle(),
    doc=(
        "CAPTURE-RECAPTURE ESTIMATE of the TRUE near-duplicate pair "
        "population: the Jaccard tier and the SimHash tier are two "
        "independent 'survey passes' over the same hidden population "
        "of near-dup pairs, so the Chapman estimator (n1+1)(n2+1)/"
        "(m+1) - 1 — Lincoln-Petersen with the small-sample bias "
        "correction — extrapolates how many pairs EXIST from how the "
        "two catches overlap, with its standard error. This answers "
        "the question every dedup report dodges: 'how much did we "
        "miss?' — a high estimate relative to the union says buy a "
        "third tier (which is exactly what dedup_cascade_report's "
        "marginal-catch column then verifies). Both catch sets reuse "
        "the registered tier operators verbatim; the overlap is one "
        "pair-keyed join of two bounded candidate sets."
    ),
    tags=("dedup", "llm", "statistics", "report"),
)
def capture_recapture_dup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    c1 = (
        _REGISTRY["ngram_jaccard_pairs"]
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
    )
    c2 = (
        _REGISTRY["simhash_hamming_near_dup"]
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
    )
    m = c1.join(c2, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    n1 = c1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = c2.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    j = n1.crossJoin(n2).crossJoin(m)
    chap = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    se = F.sqrt(
        (F.col("n1") + 1.0)
        * (F.col("n2") + 1.0)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / ((F.col("m") + 1.0) * (F.col("m") + 1.0) * (F.col("m") + 2.0))
    )
    return j.select(
        F.col("n1").alias("caught_jaccard"),
        F.col("n2").alias("caught_simhash"),
        F.col("m").alias("overlap"),
        F.round(chap, 2).alias("chapman_estimate"),
        F.round(se, 2).alias("chapman_se"),
    )


# --- Round-6: ANN recall curve as a first-class query -------------------------

_RECALL_KS = (1, 5, 10)


def _ann_recall_oracle() -> str:
    exact = _REGISTRY["cosine_topk_exact"].oracle
    approx = _REGISTRY["ann_lsh_topk"].oracle
    return f"""
        WITH ex AS ({exact}),
        ap AS ({approx}),
        joined AS (
            SELECT ex.rn AS rn_e, ap.rn AS rn_a
            FROM ex JOIN ap USING (vec_id)
        ),
        ks(k) AS (VALUES {", ".join(f"({k})" for k in _RECALL_KS)}),
        hits AS (
            SELECT ks.k,
                   CAST(COUNT(*) FILTER (WHERE joined.rn_e <= ks.k
                                           AND joined.rn_a <= ks.k)
                        AS BIGINT) AS n_hit
            FROM ks LEFT JOIN joined ON TRUE
            GROUP BY ks.k
        )
        SELECT CAST(k AS INT) AS k, n_hit,
               ROUND(CAST(n_hit AS DOUBLE) / k, 6) AS recall
        FROM hits
    """


@register(
    "ann_recall_curve",
    oracle=_ann_recall_oracle(),
    doc=(
        "ANN QUALITY AS A FIRST-CLASS QUERY: recall@k of the multi-table "
        f"LSH index against the exact brute-force ranking at k = "
        f"{_RECALL_KS} — the acceptance metric every ANN deployment "
        "gates on, computed INSIDE the engine instead of a side tool "
        "(tools/ann_quality.py measures the same thing offline; this "
        "registers it with a cross-engine oracle so the measurement "
        "itself is hash-verified). Composes the two registered "
        "operators verbatim — cosine_topk_exact (TakeOrderedAndProject "
        "baseline) and ann_lsh_topk (bucket-probe + exact rerank) — "
        "joins their top-10 lists on vec_id and counts prefix-"
        "intersection sizes per k; a 3-row output from two top-10 "
        "inputs, so the report layer adds nothing corpus-sized. At "
        "100 TB both inputs keep their own registered plans."
    ),
    tags=("similarity", "llm", "lsh", "report", "evals"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = (
        _REGISTRY["cosine_topk_exact"]
        .builder(spark, sf_dir)
        .select("vec_id", F.col("rn").alias("rn_e"))
    )
    ap = (
        _REGISTRY["ann_lsh_topk"]
        .builder(spark, sf_dir)
        .select("vec_id", F.col("rn").alias("rn_a"))
    )
    joined = ex.join(ap, "vec_id")
    ks = spark.createDataFrame([(k,) for k in _RECALL_KS], "k int")
    hits = (
        ks.join(joined, F.lit(True), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    (F.col("rn_e") <= F.col("k")) & (F.col("rn_a") <= F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hit")
        )
    )
    return hits.select(
        F.col("k").cast("int").alias("k"),
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("k"), 6).alias("recall"),
    )
