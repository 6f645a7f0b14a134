"""Deduplication operators (driver mandate: LLM-data-pipeline dedup).

Four tiers, each the right tool at a different scale/accuracy point:

1. exact dedup by content hash  — one shuffle on a 32-byte digest; the
   100 TB default (never shuffle full document text).
2. exact dedup, first-wins      — deterministic survivor selection via
   min(id) per key (dropDuplicates keeps an *arbitrary* row; this shape is
   reproducible and oracle-checkable).
3. n-gram Jaccard near-dup      — exact pairwise similarity over a shingle
   inverted index (explode -> self-join on shingle). Quadratic in the
   worst case: only for candidate verification or small corpora.
4. MinHash LSH near-dup         — the scale path: constant-size signatures,
   banding -> same-bucket candidates only, then exact Jaccard verify on
   candidates. Hash-based, engine-specific values => rows-only check; its
   *verified pairs* are asserted against tier 3's output in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weather_stream_processor_spark.functions import tokens, word_shingles
from weather_stream_processor_spark.plans.caching import (
    persisted_result,
    truncate_lineage,
)
from weather_stream_processor_spark.plans.convergence import guard_converged
from weather_stream_processor_spark.registry import register
from weather_stream_processor_spark.sources import load_table, spread

JACCARD_THRESHOLD = 0.8


@register(
    "exact_dedup_by_hash",
    oracle="""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
    doc=(
        "Exact dedup on a sha-256 content digest: the aggregation shuffles "
        "32-byte digests, never the document bodies — at 100 TB the map "
        "side computes digests during the scan and the shuffle stays tiny. "
        "min(doc_id) is the deterministic survivor."
    ),
    tags=("dedup", "llm", "headline"),
)
def exact_dedup_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "exact_dedup_first_wins",
    oracle="""
        SELECT user_id, event_type,
               MIN(event_id) AS event_id,
               COUNT(*) AS n_dupes
        FROM events
        GROUP BY user_id, event_type
    """,
    doc=(
        "Deterministic dropDuplicates: keep the first (min event_id) row "
        "per key. Spark's dropDuplicates([...]) keeps an arbitrary row per "
        "key — fine for idempotence, wrong for reproducibility; min-per-key "
        "is the replayable form and plans identically (one hash aggregate)."
    ),
    tags=("dedup",),
)
def exact_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("event_id"), F.count(F.lit(1)).alias("n_dupes")
    )


def _exploded_shingles(docs: DataFrame, n: int = 3, hashed: bool = False) -> DataFrame:
    """(doc_id, shingle, n_shingles): exploded distinct word n-grams.

    Plan-shape detail that matters: the interpreted HOF building the
    shingle array feeds ``explode`` DIRECTLY. Materializing the array in
    one projection and its ``size`` in a second lets CollapseProject
    inline the transform into both — and once a Generate sits in between,
    per *output* row — turning an O(docs) expression into O(shingles)
    evaluations (measured 4.6x slower at sf0.1). Set sizes come from a
    window count over the exploded rows instead; ``spread`` already
    hash-partitioned by doc_id, so the window adds a sort but no exchange.

    ``hashed=True`` replaces the shingle STRING with its xxhash64 long
    right after the explode (r11, guide §2.3): consumers whose shingle
    key is internal — equi-join matches and counts only, never emitted —
    shuffle/sort/probe 8-byte longs instead of ~25-char strings. Set
    sizes are distinct-string counts either way (xxhash64 collisions are
    the MinHash-verifier bound, ~|shingles|^2/2^64, accepted repo-wide).
    """
    expl = spread(docs, "doc_id").select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")), n)).alias("shingle")
    )
    if hashed:
        expl = expl.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return expl.withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


# DuckDB CTE chain producing each doc's distinct word-3-gram shingles —
# the shared base of every shingle-level oracle (jaccard pairs, connected
# components, decontamination).
_SHINGLES_CTES = """
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
                   )) AS shingle
            FROM toks
        )"""

# ...extended to the exact Jaccard >= t pairs — shared by the
# ngram_jaccard_pairs oracle and (as the edge set) by the
# dedup_connected_components recursive oracle.
_JACCARD_PAIRS_CTES = f"""
        {_SHINGLES_CTES},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        sized AS (
            SELECT sh.doc_id, sh.shingle, sizes.n
            FROM sh JOIN sizes USING (doc_id)
        ),
        inter AS (
            -- size-band prune: jaccard >= t implies min(|A|,|B|)/max >= t,
            -- so pairs outside the band are dropped before the group-by
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sized a
            JOIN sized b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                        AND LEAST(a.n, b.n) >= {JACCARD_THRESHOLD} * GREATEST(a.n, b.n)
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b,
                   ROUND(n_common * 1.0 / (s1.n + s2.n - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON doc_a = s1.doc_id
            JOIN sizes s2 ON doc_b = s2.doc_id
            WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {JACCARD_THRESHOLD}
        )"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
        WITH {_JACCARD_PAIRS_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    doc=(
        "Near-duplicate pairs by exact word-3-gram Jaccard >= 0.8, computed "
        "on a shingle inverted index (explode -> equi-self-join on shingle "
        "-> count intersections -> |A∪B| = |A|+|B|-|A∩B|). The equi-join "
        "keeps Catalyst on a hash join; hot shingles are the skew risk at "
        "scale, which is exactly what the MinHash LSH tier removes."
    ),
    tags=("dedup", "llm", "headline"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard_core(load_table(spark, sf_dir, "documents"))


_CONTRACT_DUP_GATE = 0.20  # measured-bounded: see docstring


def _ngram_jaccard_core(docs: DataFrame, contract: bool | None = None) -> DataFrame:
    """Jaccard-pair plan over an arbitrary (doc_id, text) frame — lets the
    dedup cascade feed one persisted documents scan into several tiers.

    r11: the self-join runs on hashed shingles (see _exploded_shingles
    ``hashed``) — the pair search only needs equality, and the hot join
    stage's CPU was dominated by string hashing/comparison (measured
    ~43 CPU-s at sf0.1 on strings).

    r11 (guide §2.4): the hashed posting table feeds BOTH self-join
    sides, and Spark re-expands the scan + shingle explode + hash per
    side (no exchange reuse under AQE here — measured). The postings are
    three longs per shingle occurrence, so a lineage cut materializes
    them once and both sides read the checkpoint (A/B at sf0.1:
    1.45 → 1.22 s; also feeds dedup_connected_components,
    label-propagation and the cascade's Jaccard tier).

    r12 (guide §8 "decide with small rows"): duplicate-class CONTRACTION
    before the quadratic self-join. Docs with identical shingle SETS are
    grouped into classes by a set signature (count + bit_xor + min + max
    over the per-doc xxhash64'd shingles — rides the doc_id partitioning
    the explode already paid, no new exchange); only class REPRESENTATIVES
    (min doc_id) enter the pair join, and the rep-level pairs are
    expanded back to doc-level pairs afterwards. EXACT by construction:
    members of a class have identical shingle sets, so jaccard(x, y) =
    jaccard(rep(x), rep(y)) for cross-class pairs and exactly 1.0 (>= t)
    within a class; docs with zero shingles never appear in postings, in
    classes, or in the exhaustive join's output. The signature collision
    surface (different sets agreeing on count, xor, min AND max of their
    64-bit hashes) is the repo-accepted xxhash64-key class. Pinned by
    test_contraction_equals_exhaustive_pairs on a dup-heavy corpus.

    ``contract=None`` (the default, and what every registered consumer
    passes) is a MEASURED GATE (the r11 verdict's "behind a measured
    dup-rate gate"): contraction machinery is NOT free on a dup-free
    corpus — the class window, the two extra cuts, the rep-filter join
    over the token-scale postings and the expansion joins measured
    2.46 vs 1.26 s (ngram pairs) / 3.87 vs 2.63 s (connected components)
    against the exhaustive join at sf0.1 (~0.2% dups), while on the 10x
    clone replica (~90% dups) the same machinery wins 3.0 vs 9.6 s —
    the join work falls with the square of the dup rate. The gate is one
    bounded 2-long collect: the approximate exact-text duplicate rate
    (1 - approx_count_distinct(xxhash64(text))/count) over the doc-grain
    scan; >= 0.20 contracts, below stays exhaustive. Both plans are
    exact, so the gate picks a PLAN, never an answer — approx_count_
    distinct's ±2% error is harmless, and identical texts are a subset
    of identical shingle sets, so the gated-on rate under-counts the
    classes contraction would find (conservative in the safe direction).

    ``contract=False`` forces the exhaustive twin: every doc enters the
    self-join directly. ``contract=True`` forces contraction. Both exist
    so the equality test can pin contraction against the exhaustive plan
    and plan tests can inspect either join shape."""
    if contract is None:
        # bounded collect: 2 longs (guarded in test_collect_site_guard).
        # Submitted from a thread so the gate job overlaps the postings
        # lineage-cut job below — both paths always pay that cut, so the
        # gate's wall cost is max(cut, gate) - cut ≈ 0 (guide §2.6).
        from concurrent.futures import ThreadPoolExecutor

        def _dup_rate_row():
            return docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(F.xxhash64("text")).alias("d"),
            ).collect()[0]

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_dup_rate_row)
            exploded = truncate_lineage(_exploded_shingles(docs, hashed=True))
            r = fut.result()
        contract = r.n > 0 and (1.0 - r.d / r.n) >= _CONTRACT_DUP_GATE
    else:
        exploded = truncate_lineage(_exploded_shingles(docs, hashed=True))
    if not contract:
        a = exploded.alias("a")
        b = exploded.alias("b")
        return _jaccard_pairs_from_postings(a, b)
    # signature components are all overflow-free under ANSI (a plain SUM
    # of 64-bit hashes overflows): count + xor + min + max of the per-doc
    # hash set — equal sets always agree; disagreement on any component
    # separates the classes
    sigs = exploded.groupBy("doc_id", "n_shingles").agg(
        F.bit_xor("shingle").alias("sig_xor"),
        F.min("shingle").alias("sig_min"),
        F.max("shingle").alias("sig_max"),
    )
    wsig = Window.partitionBy("n_shingles", "sig_xor", "sig_min", "sig_max")
    # (doc_id, rep_id) for every doc with >= 1 shingle; doc-scale, two
    # longs — cut so the four consumers below read one materialization
    cls = truncate_lineage(
        sigs.select("doc_id", F.min("doc_id").over(wsig).alias("rep_id"))
    )
    reps = cls.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    rep_postings = exploded.join(reps, "doc_id")
    rep_pairs = _jaccard_pairs_from_postings(
        rep_postings.alias("a"), rep_postings.alias("b")
    )
    # expansion back to doc-level pairs: class members inherit their
    # rep pair's jaccard (identical sets), ordered least/greatest; pairs
    # WITHIN a class are exact duplicates (jaccard exactly 1.0 >= t).
    # The joins read the doc-scale (doc_id, rep_id) map with no broadcast
    # hint: the planner sizes it from the cut's stats (and AQE from the
    # runtime size), so a small map broadcasts and a large, dup-heavy
    # corpus's map shuffles instead of failing the broadcast.
    ma = cls.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("xa"))
    mb = cls.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("xb"))
    cross = (
        rep_pairs.join(ma, F.col("doc_a") == F.col("ra"))
        .join(mb, F.col("doc_b") == F.col("rb"))
        .select(
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
            "jaccard",
        )
    )
    intra = ma.join(
        mb, (F.col("ra") == F.col("rb")) & (F.col("xa") < F.col("xb"))
    ).select(
        F.col("xa").alias("doc_a"),
        F.col("xb").alias("doc_b"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    )
    return cross.unionByName(intra)


def _jaccard_pairs_from_postings(a: DataFrame, b: DataFrame) -> DataFrame:
    """The exact Jaccard >= t pair join over two aliased posting frames
    (doc_id, shingle, n_shingles) — the shared tail of both the
    contracted and exhaustive paths of ``_ngram_jaccard_core``."""
    # size-band prune inside the join condition: jaccard >= t implies
    # min(|A|,|B|) >= t * max(|A|,|B|), so impossible pairs never reach the
    # pair-counting shuffle (cuts the intermediate by ~an order of
    # magnitude on skewed corpora)
    band = F.least(F.col("a.n_shingles"), F.col("b.n_shingles")) >= F.greatest(
        F.col("a.n_shingles"), F.col("b.n_shingles")
    ) * F.lit(JACCARD_THRESHOLD)
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & band,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jaccard = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.filter(jaccard >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


# --- MinHash LSH (the 100 TB near-dup path) --------------------------------

N_HASHES = 32  # signature length
N_BANDS = 8  # => rows-per-band r=4; threshold ~ (1/b)^(1/r) ≈ 0.59

# Carter-Wegman universal-hash lane constants (deterministic): lane_i(h) =
# (A_i*h + B_i) mod P over the Mersenne prime P = 2^31-1. The mod is what
# makes each lane an (approximately) independent permutation — an affine
# map WITHOUT reduction is monotone in h, so every lane would pick the
# same min shingle. A_i in [1, P), B_i in [0, P); products stay < 2^62.
_MH_PRIME = (1 << 31) - 1
_MH_MULT = [(2654435761 * (2 * i + 3)) % _MH_PRIME or 1 for i in range(N_HASHES)]
_MH_ADD = [(0x9E3779B97F4A7C15 * (i + 1)) % _MH_PRIME for i in range(N_HASHES)]


def _doc_index(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig, shingles, n_shingles) — the per-doc near-dup index.

    One explode + ONE aggregation produces everything downstream needs:
    the MinHash signature (min of a_i*h32+b_i over xxhash64'd shingles —
    Spark-native codegen, no UDF), the distinct-shingle set (for exact verification via
    array_intersect, replacing a second explode/self-join over shingles),
    and the set size. Per-doc state is n_hashes longs + the shingle set;
    the aggregate's exchange is one identical subtree for every consumer,
    so Spark's ReuseExchange computes it once per query.
    """
    expl = spread(docs, "doc_id").select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")), 3)).alias("shingle")
    )
    # hash the shingle STRING once, then derive the n_hashes signature
    # lanes by universal hashing over the value: lane_i = (A_i*h32 + B_i)
    # mod (2^31-1), with h32 = low 32 bits of xxhash64. Products stay
    # < 2^62, so ANSI int64 arithmetic never overflows. One string hash +
    # integer multiply-add-mods per row instead of n_hashes string hashes
    # — string hashing dominates the signature stage. Verification
    # likewise carries the 64-bit hashes, not shingle text: the shuffle
    # moves 8-byte longs and array_intersect compares longs (collision
    # odds ~|corpus shingles|^2 / 2^64, irrelevant for candidate verify).
    hashed = expl.select(
        "doc_id",
        F.xxhash64("shingle").alias("h"),
    ).withColumn("h32", F.col("h").bitwiseAND(F.lit(0xFFFFFFFF)))
    # r11: lanes built as parsed SQL expressions (one py4j call each)
    # instead of ~6 Column-method round trips per lane — same tree,
    # ~0.4s less builder() wall (timed inside the bench's query wall)
    mins = [
        F.expr(
            f"min((h32 * {_MH_MULT[i]} + {_MH_ADD[i]}) % {_MH_PRIME})"
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    per_doc = hashed.groupBy("doc_id").agg(
        *mins,
        F.collect_list("h").alias("shingles"),
        F.count(F.lit(1)).alias("n_shingles"),
    )
    return per_doc.select(
        "doc_id",
        F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"),
        "shingles",
        "n_shingles",
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig: array<bigint>) — min of a_i*h32+b_i per universal-hash lane."""
    return _doc_index(docs, n_hashes).select("doc_id", "sig")


@register(
    "minhash_lsh_near_dup",
    # The output contract is exact: candidates are *verified* with exact
    # shingle Jaccard >= t, so the result set equals the exhaustive
    # ngram_jaccard_pairs whenever LSH recall is 100% at this threshold
    # (banding threshold ~0.59 << 0.8; pytest asserts the equality, and the
    # shared oracle makes the driver's hash gate enforce it every round).
    oracle=f"""
        WITH {_JACCARD_PAIRS_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    doc=(
        "MinHash + LSH banding near-dup, the scale path: 32-hash signature "
        "per doc, 8 bands of 4 rows; docs sharing any band bucket become "
        "candidate pairs; candidates are then *verified* with exact shingle "
        "Jaccard >= 0.8. At 100 TB only same-bucket pairs are ever joined "
        "(bucket join, no quadratic blowup). Verified output is exact, so "
        "the oracle is the same exhaustive-Jaccard SQL as "
        "ngram_jaccard_pairs."
    ),
    tags=("dedup", "llm", "lsh"),
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r11 (guide §2.4): per_doc feeds FOUR consumers (both band sides,
    # both verify sides). The docstring's ReuseExchange hope does not
    # materialize under AQE — the explode+signature aggregate re-ran per
    # consumer (8 scans in the formatted plan). The index is O(docs) rows
    # of longs: lineage-cut it so the signature pipeline runs ONCE
    # (A/B at sf0.1: 2.95 → 1.72 s cold, bench min 1.76 → ~1.1 s).
    per_doc = truncate_lineage(_doc_index(docs))
    r = N_HASHES // N_BANDS
    bands = per_doc.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(*[F.col("sig")[band * r + j] for j in range(r)]).alias(
                            "bucket"
                        ),
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-verify candidates only: join the per-doc shingle sets back and
    # intersect the two ~O(doc length) arrays per pair — no second explode,
    # no shingle-level shuffle, and the candidate set is tiny vs all pairs
    pa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("na"),
    )
    pb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("nb"),
    )
    verified = (
        candidates.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jaccard = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        verified.filter(jaccard >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


# --- portable SimHash ---------------------------------------------------
# Per-token hash: two char-polynomial codes (bases 31 / 37, mod 2^31-1,
# exponents cycled mod 16 via literal power tables) packed into a 62-bit
# non-negative value. Pure +,*,%,ascii,codepoint arithmetic that Spark and
# DuckDB evaluate bit-identically — which is what converts SimHash from a
# rows-only sketch into a value-hash-checked operator. Production swaps
# this for xxhash64 (same plan: the hash is one projection over the
# distinct-token table); the SimHash *construction* is unchanged.
_SH_MOD = 2_147_483_647  # 2^31 - 1
_SH_POW_CYCLE = 16
_SH_POW31 = tuple(pow(31, k, _SH_MOD) for k in range(_SH_POW_CYCLE))
_SH_POW37 = tuple(pow(37, k, _SH_MOD) for k in range(_SH_POW_CYCLE))
_SH_BITS = 62  # h < 2^62 by construction; bits 62/63 carry no signal


def _vhash_ctes() -> str:
    """CTE chain ending in vhash(tok, h): the portable per-token 62-bit
    hash over the corpus vocabulary — shared by the SimHash oracles and
    the feature-hashing vectorizer oracle."""
    p31 = ", ".join(str(p) for p in _SH_POW31)
    p37 = ", ".join(str(p) for p in _SH_POW37)
    return f"""toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        vocab AS (SELECT DISTINCT tok FROM toks),
        vchars AS (
            SELECT tok, unnest(regexp_extract_all(tok, '.')) AS c,
                   generate_subscripts(regexp_extract_all(tok, '.'), 1) AS i
            FROM vocab
        ),
        vhash AS (
            SELECT tok,
                   (SUM(CAST(ascii(c) AS BIGINT)
                        * ([{p31}])[((i - 1) % {_SH_POW_CYCLE}) + 1])
                    % {_SH_MOD})
                   + (SUM(CAST(ascii(c) AS BIGINT)
                          * ([{p37}])[((i - 1) % {_SH_POW_CYCLE}) + 1])
                      % {_SH_MOD}) * 2147483648 AS h
            FROM vchars GROUP BY tok
        )"""


def _vocab_hash(toks: DataFrame) -> DataFrame:
    """Portable per-token 62-bit hash over the DISTINCT tokens of a
    (doc_id, tok) frame — the Spark twin of the _vhash_ctes() oracle
    chain, shared by SimHash and the feature-hashing vectorizer."""
    vocab = toks.select("tok").distinct()
    chars = vocab.select(
        "tok",
        F.posexplode(F.regexp_extract_all("tok", F.lit("."), 0)).alias("i", "c"),
    )
    pow31 = F.array(*[F.lit(p) for p in _SH_POW31])
    pow37 = F.array(*[F.lit(p) for p in _SH_POW37])
    idx = (F.col("i") % _SH_POW_CYCLE) + 1  # posexplode is 0-based
    code = F.ascii("c").cast("bigint")
    return chars.groupBy("tok").agg(
        (
            (F.sum(code * F.element_at(pow31, idx)) % _SH_MOD)
            + (F.sum(code * F.element_at(pow37, idx)) % _SH_MOD) * F.lit(2_147_483_648)
        ).alias("h")
    )


def _simhash_cte() -> str:
    """CTE chain ending in sh(doc_id, simhash) — shared by the bucket
    sketch oracle and the Hamming near-dup oracle."""
    bit_sums = ",\n                   ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SH_BITS)
    )
    assemble = "\n                 + ".join(
        f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(_SH_BITS)
    )
    return f"""
        WITH {_vhash_ctes()},
        th AS (
            SELECT t.doc_id, COALESCE(v.h, 0) AS h
            FROM toks t LEFT JOIN vhash v USING (tok)
        ),
        sums AS (
            SELECT doc_id,
                   {bit_sums}
            FROM th GROUP BY doc_id
        ),
        sh AS (
            SELECT doc_id,
                   {assemble} AS simhash
            FROM sums
        )
    """


def _simhash_oracle() -> str:
    return (
        _simhash_cte()
        + f"""
        SELECT doc_id, simhash, simhash >> {_SH_BITS - 16} AS bucket16
        FROM sh
    """
    )


@register(
    "simhash_buckets",
    oracle=_simhash_oracle(),
    doc=(
        f"{_SH_BITS}-bit SimHash per document: per bit, sum +1/-1 over "
        "token occurrences by whether the token hash has that bit set, "
        "sign -> bit; docs grouped by 16-bit prefix buckets (the blocking "
        "key for Hamming-distance candidate search at scale). The token "
        "hash is a PORTABLE two-base char polynomial (bases 31/37 mod "
        "2^31-1, literal power tables) computed once per DISTINCT token "
        "— vocabulary-bounded work — then equi-joined back onto the "
        "token stream; empty tokens hash to 0 via the left join so every "
        "document keeps a signature. Portability is what upgrades this "
        "from a determinism-tested sketch to a cross-engine value-hash "
        "row; production swaps xxhash64 into the same vocab projection. "
        "Plan: explode -> distinct -> per-char explode of the VOCAB only "
        "-> hash agg -> equi-join -> one 62-column hash agg per doc; "
        "signature state is 62 longs per doc, shuffle bounded by "
        "|tokens| + |vocab chars|."
    ),
    tags=("dedup", "llm", "simhash"),
)
def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_buckets_core(load_table(spark, sf_dir, "documents"))


def _simhash_buckets_core(docs_in: DataFrame) -> DataFrame:
    """SimHash fingerprint plan over an arbitrary (doc_id, text) frame —
    shared by the registered builders and the dedup cascade's persisted
    documents scan."""
    docs = spread(docs_in, "doc_id")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    # hash once per DISTINCT token; referencing the polynomial inside all
    # 62 aggregate expressions would inline it 62x per row (aggregate
    # inputs get no common-subexpression elimination) — and the per-char
    # explode over the raw token stream would multiply the shuffle by
    # mean token length. Vocab-bounded instead.
    vhash = _vocab_hash(toks)
    toksh = toks.join(vhash, "tok", "left").select(
        "doc_id", F.coalesce("h", F.lit(0)).alias("h")
    )
    # r11: the 62 per-bit aggregates and the 62-term assembly are built as
    # TWO parsed SQL expressions instead of ~250 Column-method py4j round
    # trips — identical expression trees, but builder() construction
    # drops ~1.9s -> ~0.03s (measured; the bench times builder() inside
    # the query wall, and the cascade builds this subtree a second time)
    bit_sums = [
        F.expr(f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)")
        .alias(f"b{i}")
        for i in range(_SH_BITS)
    ]
    sums = toksh.groupBy("doc_id").agg(*bit_sums)
    simhash = F.expr(
        " ^ ".join(
            f"(CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(_SH_BITS)
        )
    )
    return sums.select(
        "doc_id",
        simhash.alias("simhash"),
        F.shiftright(simhash, _SH_BITS - 16).alias("bucket16"),
    )


# recursive transitive closure over the Jaccard pair graph -> per-node
# min-reachable-id component labels; shared by the connected-components
# oracle and the keep-list oracle
_COMPONENTS_CTES = f"""{_JACCARD_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach AS (
            SELECT id, id AS r FROM nodes
            UNION
            SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
        ),
        comp AS (SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id)"""


def _cc_label_propagation(
    edges: DataFrame, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Min-label propagation over a symmetric edge list (s, d): each round
    is one join + one min-aggregate, converging in O(diameter) rounds —
    2-3 in practice for star-shaped near-dup components. Returns
    (labels[doc_id, comp], rounds). Raises ``IterationCapExceeded`` if
    ``max_rounds`` is exhausted before the checksum stabilizes (the oracle
    is a true transitive closure, so an under-iterated result would be
    wrong, not merely truncated)."""
    # initialization fuses round 1 for free: comp0 = min(self, neighbors)
    # is one aggregate over the edge list (every node appears as a dst in
    # the symmetric edge set) — no join, and star-shaped components are
    # already converged before the loop begins
    labels = truncate_lineage(
        edges.groupBy(F.col("d").alias("doc_id")).agg(
            F.least(F.min("s"), F.min("d")).alias("comp")
        )
    )
    prev_sum = None
    rounds = 0
    converged = False
    # peek-then-commit: each iteration COMPUTES the next state and its
    # checksum first; an unchanged checksum is the fixpoint (committed or
    # not, the states are identical). The cap bounds PRODUCTIVE rounds —
    # the i == max_rounds peek is confirmation-only and never committed,
    # so a graph whose last label change lands exactly on round
    # max_rounds converges cleanly instead of tripping the guard
    # (review r5: checksum-equality detection needs one extra
    # zero-change round that the plain range(max_rounds) loop never ran).
    for i in range(max_rounds + 1):
        msgs = (
            edges.join(labels, edges.s == labels.doc_id)
            .groupBy(F.col("d").alias("doc_id"))
            .agg(F.min("comp").alias("mcomp"))
        )
        nxt = truncate_lineage(
            labels.join(msgs, "doc_id", "left").select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("mcomp", "comp")).alias("comp"),
            )
        )
        # labels only ever decrease, so an unchanged sum IS the fixpoint
        cur_sum = nxt.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        if i == max_rounds:
            break  # cap exhausted AND round max_rounds+1 was productive
        labels, prev_sum = nxt, cur_sum
        rounds += 1
    guard_converged(
        converged, "dedup_connected_components[label_propagation]", max_rounds
    )
    return labels, rounds


def _cc_two_phase(edges: DataFrame, max_rounds: int = 60) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components (Kiveris
    et al., 'Connected Components in MapReduce and Beyond', SoCC'14) —
    the adversarial-diameter path: O(log n) alternations on long chains
    where label propagation needs O(diameter) rounds. Input is the
    symmetric edge list (s, d); returns (labels[doc_id, comp], rounds).

    Each alternation is two (join + aggregate) passes over the current
    edge set — the same per-round physical shape as propagation, and the
    edge set only shrinks toward the star graph, so per-round cost falls.
    Extra (u, min) edges are emitted in both phases: they stay inside
    u's component (min is in u's closed neighborhood), never merge
    components, and speed contraction."""
    e = truncate_lineage(edges.select("s", "d").where(F.col("s") != F.col("d")).distinct())
    prev = None
    rounds = 0
    converged = False
    # peek-then-commit, same off-by-one rationale as _cc_label_propagation:
    # the i == max_rounds iteration is a confirmation peek, not an extra
    # productive alternation, so fixpoint-at-exactly-the-cap converges
    for i in range(max_rounds + 1):
        # large-star: strictly-larger neighbors of u link to u's min
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        mins = (
            sym.groupBy("s")
            .agg(F.min("d").alias("mn"))
            .select("s", F.least("s", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "s")
            .where(F.col("d") > F.col("s"))
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .union(mins.select("s", F.col("m").alias("d")))
        )
        half = large.where(F.col("s") != F.col("d")).distinct()
        # small-star: orient each edge max->min, link all smaller
        # neighbors (and u itself) to the neighborhood min
        directed = half.select(
            F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
        )
        mins2 = directed.groupBy("s").agg(F.min("d").alias("m"))
        small = (
            directed.join(mins2, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .union(mins2.select("s", F.col("m").alias("d")))
        )
        nxt = truncate_lineage(small.where(F.col("s") != F.col("d")).distinct())
        # fixpoint = edge set unchanged (count + order-free content hash;
        # bit_xor over xxhash64 cannot overflow under ANSI arithmetic)
        chk = tuple(
            nxt.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(s, d))")
            ).collect()[0]
        )
        if chk == prev:
            converged = True
            e = nxt  # content-identical to e; commit for clarity
            break
        if i == max_rounds:
            break  # cap exhausted AND the peeked alternation was productive
        e, prev = nxt, chk
        rounds += 1
    guard_converged(converged, "dedup_connected_components[two_phase]", max_rounds)
    # at the fixpoint the edge set is the star graph centered at each
    # component's min node: label = min over the closed neighborhood
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("mn"))
        .select(F.col("s").alias("doc_id"), F.least("s", "mn").alias("comp"))
    )
    return labels, rounds


@register(
    "dedup_connected_components",
    oracle=f"""
        WITH RECURSIVE {_COMPONENTS_CTES}
        SELECT doc_id, component_id,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members
        FROM comp
    """,
    doc=(
        "Near-dup CLUSTER RESOLUTION: the step after pair finding that "
        "actual corpus dedup needs — connected components over the "
        "Jaccard>=0.8 pair graph, min-doc_id as the canonical "
        "representative (keep one doc per component, drop the rest). "
        "Implemented as distributed min-label propagation: each round is "
        "one join + one min-aggregate, all executor-side; the driver only "
        "compares a one-row convergence checksum per round and truncates "
        "lineage each round (reliable checkpoint() when a checkpoint dir "
        "is configured — the cluster deployment; localCheckpoint "
        "otherwise). Rounds = component "
        "diameter — near-dup components are tiny/star-shaped, so 2-3 "
        "rounds in practice; for adversarial diameters pass "
        "algorithm='two_phase' — the alternating large-star/small-star "
        "variant (Kiveris et al., 'Connected Components in MapReduce') "
        "bounds rounds at O(log n) with the same per-round plan shape "
        "(path-graph-tested: 1000-node chain in <= 25 alternations). "
        "Oracle: DuckDB recursive-CTE transitive closure, "
        "min-reachable-id per node."
    ),
    tags=("dedup", "llm", "iterative", "graph"),
)
def dedup_connected_components(
    spark: SparkSession, sf_dir: str, algorithm: str = "label_propagation"
) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS s", "doc_b AS d").union(
        pairs.selectExpr("doc_b AS s", "doc_a AS d")
    )
    # cache the edge list: it is re-scanned every propagation round, and
    # recomputing the shingle self-join per round would dominate
    edges = truncate_lineage(edges)
    if algorithm == "two_phase":
        labels, _ = _cc_two_phase(edges)
    elif algorithm == "label_propagation":
        labels, _ = _cc_label_propagation(edges)
    else:
        raise ValueError(f"unknown connected-components algorithm: {algorithm!r}")
    return labels.select(
        "doc_id",
        F.col("comp").alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("comp"))
        .alias("n_members"),
    )


@register(
    "near_dup_keep_list",
    oracle=f"""
        WITH RECURSIVE {_COMPONENTS_CTES}
        SELECT d.doc_id,
               COALESCE(c.component_id, d.doc_id) AS component_id,
               (c.doc_id IS NULL OR c.component_id = d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
    doc=(
        "The ACTIONABLE end of the near-dup pipeline: one keep/drop "
        "decision per document. Docs in no near-dup component keep "
        "themselves; within a component only the canonical min-doc_id "
        "representative survives. Plan: the connected-components labels "
        "(component-member-sized, tiny vs the corpus) LEFT-joined back to "
        "the full document list — at 100 TB this is a broadcast join of "
        "labels into the corpus scan, and the keep column drives the "
        "actual dedup write (filter keep = true), so dedup is one more "
        "map-side predicate, not another shuffle."
    ),
    tags=("dedup", "llm", "graph"),
)
def near_dup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = dedup_connected_components(spark, sf_dir).select(
        F.col("doc_id").alias("c_doc_id"), "component_id"
    )
    joined = docs.join(
        F.broadcast(labels), docs.doc_id == F.col("c_doc_id"), "left"
    )
    return joined.select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
        (
            F.col("c_doc_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        ).alias("keep"),
    )


@register(
    "fuzzy_name_pairs",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
        FROM names a
        JOIN names b
          ON string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
         AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc=(
        "BLOCKED FUZZY MATCHING (entity-resolution tier of dedup, for the "
        "short-string metadata near-dup that shingle/MinHash methods "
        "over-kill): distinct names are blocked on a stable token (the "
        "trailing head noun), and only block-mates pay the O(len^2) "
        "Levenshtein verify — the equi-join on the blocking key is what "
        "keeps this linear-ish instead of all-pairs. DISTINCT first: "
        "|names| << |rows|, so the quadratic-per-block step runs on the "
        "name dictionary, never the fact table. At 100 TB use 2-3 "
        "redundant blocking keys (first token, length band, phonetic "
        "code) unioned, same plan per key."
    ),
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    blk = F.element_at(F.split("p_name", " "), -1)
    a = names.select(F.col("p_name").alias("name_a"), blk.alias("blk_a"))
    b = names.select(F.col("p_name").alias("name_b"), blk.alias("blk_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(dist <= 4)
        .select("name_a", "name_b", dist.cast("bigint").alias("edit_distance"))
    )


# Decontamination: eval set = doc_id % 20 == 0 (fixture proxy for "the
# benchmark suite"); flag training docs whose shingle overlap with ANY
# eval material exceeds the threshold.
_DECON_THRESHOLD = 0.1


@register(
    "decontamination_overlap",
    oracle=f"""
        WITH {_SHINGLES_CTES},
        eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
        train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
        sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
        hits AS (
            SELECT t.doc_id, COUNT(*) AS n_hits
            FROM train t JOIN eval_sh e USING (shingle)
            GROUP BY t.doc_id
        )
        SELECT h.doc_id, h.n_hits, s.n_shingles,
               ROUND(h.n_hits * 1.0 / s.n_shingles, 6) AS contamination
        FROM hits h JOIN sizes s USING (doc_id)
        WHERE h.n_hits * 1.0 / s.n_shingles >= {_DECON_THRESHOLD}
    """,
    doc=(
        "Benchmark DECONTAMINATION: flag training documents whose distinct "
        "word-3-gram overlap with the eval set (fixture proxy: doc_id % 20 "
        "== 0) is >= 10% of their own shingles — the standard "
        "leakage-removal step before LLM training. The eval shingle set is "
        "DISTINCT'd and broadcast (benchmarks are tiny next to a 100 TB "
        "corpus), so the whole check is scan -> broadcast-hash join -> "
        "per-doc count: no all-pairs stage, no shuffle of the corpus, and "
        "the same plan at any corpus size. Catches verbatim and "
        "near-verbatim leaks; combine with the MinHash tier for fuzzier "
        "paraphrase contamination."
    ),
    tags=("dedup", "llm", "decontamination"),
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs)
    is_eval = F.col("doc_id") % 20 == 0
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    train = sh.filter(~is_eval)
    hits = (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    ratio = F.col("n_hits") / F.col("n_shingles")
    return hits.filter(ratio >= _DECON_THRESHOLD).select(
        "doc_id", "n_hits", "n_shingles", F.round(ratio, 6).alias("contamination")
    )


@register(
    "cross_doc_repeated_passages",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        win AS (
            SELECT doc_id,
                   unnest([sha256(array_to_string(t[i:i+7], ' '))
                           FOR i IN range(1, len(t) - 6)]) AS passage_sha
            FROM toks
        )
        SELECT passage_sha,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences,
               MIN(doc_id) AS first_doc
        FROM win
        GROUP BY passage_sha
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=(
        "CROSS-DOCUMENT REPEATED-PASSAGE DETECTION (substring-level "
        "dedup a la Lee et al., 'Deduplicating Training Data Makes "
        "Language Models Better'): every 8-word sliding window is "
        "content-hashed (sha-256 — bit-identical in Spark and DuckDB, so "
        "the oracle hashes the same values) and windows appearing in >= "
        "2 distinct documents surface with doc/occurrence counts — the "
        "boilerplate, licenses, and templated spans that doc-level "
        "near-dup misses because the containing documents differ. Plan: "
        "tokenize -> windowed sha2 inside ONE projection feeding explode "
        "directly (no materialized window arrays), then a hash aggregate "
        "on the digest: only (digest, doc_id) pairs shuffle, never text; "
        "partial map-side aggregation absorbs hot boilerplate windows. "
        "At 100 TB, stride the windows (every k-th) to cut the explode "
        "factor, and truncate the digest to 16 bytes to halve the "
        "shuffle — both knobs, not plan changes."
    ),
    tags=("dedup", "llm", "text"),
)
def cross_doc_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    w = 8
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (w - 1)),
        lambda i: F.sha2(F.array_join(F.slice(toks, i, w), " "), 256),
    )
    guarded = F.when(F.size(toks) >= w, grams).otherwise(
        F.array().cast("array<string>")
    )
    win = spread(docs, "doc_id").select(
        "doc_id", F.explode(guarded).alias("passage_sha")
    )
    return (
        win.groupBy("passage_sha")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "doc_boilerplate_ratio",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        win AS (
            SELECT doc_id,
                   unnest([sha256(array_to_string(t[i:i+7], ' '))
                           FOR i IN range(1, len(t) - 6)]) AS passage_sha
            FROM toks
        ),
        dup AS (
            SELECT passage_sha FROM win
            GROUP BY passage_sha HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT w.doc_id,
               COUNT(*) AS n_windows,
               COUNT(d.passage_sha) AS n_dup_windows,
               ROUND(COUNT(d.passage_sha) * 1.0 / COUNT(*), 6)
                   AS boilerplate_ratio
        FROM win w LEFT JOIN dup d ON w.passage_sha = d.passage_sha
        GROUP BY w.doc_id
    """,
    doc=(
        "The ACTIONABLE end of repeated-passage detection (the keep-list "
        "pattern, applied to substring dedup): per document, the fraction "
        "of its 8-word windows that also appear in other documents — the "
        "quality signal that flags templated/boilerplate-heavy docs for "
        "down-weighting even when no whole-document near-dup exists. "
        "Plan: the windowed digests are computed ONCE and localCheckpoint-"
        "reused by both sides (the cross-doc duplicate digests and the "
        "per-doc rollup join on the digest, then aggregate to doc grain); "
        "everything shuffles digests, never text."
    ),
    tags=("dedup", "llm", "text", "quality"),
)
def doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    w = 8
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (w - 1)),
        lambda i: F.sha2(F.array_join(F.slice(toks, i, w), " "), 256),
    )
    guarded = F.when(F.size(toks) >= w, grams).otherwise(
        F.array().cast("array<string>")
    )
    win = truncate_lineage(
        spread(docs, "doc_id").select("doc_id", F.explode(guarded).alias("passage_sha"))
    )
    dup = (
        win.groupBy("passage_sha")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("passage_sha")
    )
    joined = win.join(dup.withColumn("is_dup", F.lit(1)), "passage_sha", "left")
    ratio = F.sum(F.coalesce("is_dup", F.lit(0))) / F.count(F.lit(1))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup_windows"),
        F.round(ratio, 6).alias("boilerplate_ratio"),
    )


@register(
    "incremental_near_dup_vs_index",
    oracle=f"""
        WITH {_SHINGLES_CTES},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        sized AS (
            SELECT sh.doc_id, sh.shingle, sizes.n
            FROM sh JOIN sizes USING (doc_id)
        ),
        inter AS (
            SELECT a.doc_id AS new_doc, b.doc_id AS index_doc,
                   COUNT(*) AS n_common
            FROM sized a
            JOIN sized b ON a.shingle = b.shingle
                        AND a.doc_id % 3 = 0 AND b.doc_id % 3 != 0
                        AND LEAST(a.n, b.n) >= {JACCARD_THRESHOLD} * GREATEST(a.n, b.n)
            GROUP BY 1, 2
        )
        SELECT new_doc, index_doc,
               ROUND(n_common * 1.0 / (s1.n + s2.n - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes s1 ON new_doc = s1.doc_id
        JOIN sizes s2 ON index_doc = s2.doc_id
        WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {JACCARD_THRESHOLD}
    """,
    doc=(
        "INCREMENTAL near-dup — the production shape batch self-joins "
        "miss: a NEW batch of documents (doc_id % 3 = 0 here; an arrival "
        "partition in production) checked against the EXISTING corpus "
        "index, never against itself as a whole. The join is asymmetric "
        "(new x index, no self-pairs, no double-counting), so per-arrival "
        "cost is O(|batch| x collisions), not O(|corpus|^2) — re-running "
        "dedup from scratch per arrival is the scale failure this "
        "replaces. Same inverted-index equi-join + size-band prune as "
        "ngram_jaccard_pairs; at 100 TB the index side is the stored "
        "MinHash/shingle table (write once, append per batch) and the "
        "new side streams through it."
    ),
    tags=("dedup", "llm", "incremental"),
)
def incremental_near_dup_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = _exploded_shingles(docs)
    new = exploded.filter(F.col("doc_id") % 3 == 0).alias("a")
    index = exploded.filter(F.col("doc_id") % 3 != 0).alias("b")
    band = F.least(F.col("a.n_shingles"), F.col("b.n_shingles")) >= F.greatest(
        F.col("a.n_shingles"), F.col("b.n_shingles")
    ) * F.lit(JACCARD_THRESHOLD)
    inter = (
        new.join(index, (F.col("a.shingle") == F.col("b.shingle")) & band)
        .groupBy(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("index_doc"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jaccard = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.filter(jaccard >= JACCARD_THRESHOLD)
        .select("new_doc", "index_doc", F.round(jaccard, 6).alias("jaccard"))
    )


_CHUNK_W = 4  # tokens per chunk; real corpora use paragraph boundaries


@register(
    "chunk_dedup_reconstruct",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   CAST(unnest(range(CAST(ceil(len(t) / {_CHUNK_W}.0) AS BIGINT))) AS INT) AS pos,
                   t
            FROM toks
        ),
        cut AS (
            SELECT doc_id, pos,
                   array_to_string(t[(pos * {_CHUNK_W} + 1):(pos * {_CHUNK_W} + {_CHUNK_W})], ' ') AS chunk
            FROM chunks
        ),
        ranked AS (
            SELECT doc_id, pos, chunk,
                   ROW_NUMBER() OVER (
                       PARTITION BY sha256(chunk) ORDER BY doc_id, pos
                   ) AS rn
            FROM cut
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS kept_ratio,
               sha256(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '')) AS dedup_sha
        FROM ranked
        GROUP BY doc_id
    """,
    doc=(
        "Paragraph-level dedup WITH document reconstruction (the "
        "CCNet/RefinedWeb shape): chunk every document into fixed "
        f"{_CHUNK_W}-token blocks (stand-in for paragraph boundaries on "
        "this corpus), keep exactly the FIRST occurrence of each distinct "
        "chunk corpus-wide (first = lowest (doc_id, pos) — replayable), "
        "then rebuild each document from its surviving chunks in original "
        "order. Unlike doc-level dedup, the unit of removal is the "
        "paragraph, so boilerplate shared across documents is stripped "
        "while unique content survives. Plan: explode -> sha2 chunk hash "
        "-> ROW_NUMBER partitioned BY HASH (first-wins is a per-hash "
        "window, shuffled on the 32-byte digest, never the text) -> "
        "re-aggregate by doc_id with an in-memory array sort over that "
        "document's own chunks. Both shuffles are keyed (hash, then "
        "doc_id); nothing is global, no driver state — the identical plan "
        "runs at 100 TB. Output carries sha256 of the reconstructed text, "
        "not the text itself, so wide documents never re-shuffle."
    ),
    tags=("dedup", "llm", "reconstruct"),
)
def chunk_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(_CHUNK_W))).cast("int")
    cut = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * _CHUNK_W + 1, _CHUNK_W), " "
                ),
            )
        ).alias("pos", "chunk"),
    )
    ranked = cut.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.sha2("chunk", 256)).orderBy("doc_id", "pos")
        ),
    )
    kept_struct = F.when(F.col("rn") == 1, F.struct("pos", "chunk"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("kept_ratio"),
        F.sha2(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            ),
            256,
        ).alias("dedup_sha"),
    )


@register(
    "prefix_filter_jaccard_join",
    # Exact output contract: candidates are verified with true shingle
    # Jaccard >= t, and the integer-exact prefix length guarantees 100%
    # recall (see doc), so the result equals the exhaustive join.
    oracle=f"""
        WITH {_JACCARD_PAIRS_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    doc=(
        "Set-similarity join via PREFIX FILTERING (AllPairs/PPJoin "
        "family): order each doc's shingles by ascending global document "
        "frequency (rarest first, ties on hash), keep only the first "
        "n - ceil(t*n) + 1 as its prefix, and generate candidates by "
        "equi-joining PREFIXES on shingle -- by the prefix-filtering "
        "lemma, any pair with Jaccard >= t must share a prefix token, so "
        "recall is exact while the inverted index shrinks to ~(1-t) of "
        "the postings and the hot-shingle join skew drops with it "
        "(frequent shingles land in nobody's prefix). Candidates then "
        "verify against true Jaccard on the full 64-bit-hashed shingle "
        "sets, after TWO positional filters discard candidates that "
        "cannot verify: the per-row PPJoin bound (overlap upper bound "
        "from one shared token's ranks vs the Jaccard-implied minimum "
        "ceil(t/(1+t)*(na+nb))), then the pair-level bound c + "
        "min(na-max_pa, nb-max_pb) over ALL shared prefix tokens, "
        "aggregated on the same exchange the old distinct() paid. "
        "ceil(t*n) is computed in integer arithmetic derived from the "
        "exact rational form of JACCARD_THRESHOLD (t=p/q => "
        "(p*n + q - 1) div q), never float, so a float ceil(0.8*5)=5 "
        "can't shorten a prefix and break the recall guarantee. The third "
        "exact-near-dup plan alongside the exhaustive join (verifier) "
        "and MinHash LSH (probabilistic): same output, different scale "
        "trade -- exact recall without signatures."
    ),
    tags=("dedup", "llm", "prefix-filter"),
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, p, q = _jaccard_rational()
    h = _prefix_filter_postings(spark, sf_dir)
    # persisted via persisted_result: the hashed posting list feeds FOUR
    # subtrees (df counts, prefix ranking, both verify sides) — without
    # the cache each replays the scan + shingle explode + hash (measured
    # 4.4x cold wall). The wrapper materializes the (small) verified pair
    # set and releases the cache, so repeated invocations in a long-lived
    # session leak nothing (r3 advice).
    return persisted_result(h, lambda hp: _prefix_filter_tree(hp, t, p, q))


def _jaccard_rational() -> tuple[float, int, int]:
    """JACCARD_THRESHOLD as (t, p, q) with t == p/q exactly: the
    integer-exact prefix/overlap ceilings are DERIVED from it (r3 advice:
    they were hardcoded for 0.8, silently breaking exact recall if the
    constant changed)."""
    from fractions import Fraction

    t = JACCARD_THRESHOLD
    frac = Fraction(t).limit_denominator(1_000)
    if abs(float(frac) - t) > 1e-12:
        raise ValueError(
            f"JACCARD_THRESHOLD={t} is not a small rational; the "
            "integer-exact prefix arithmetic requires p/q with q <= 1000"
        )
    return t, frac.numerator, frac.denominator


def _prefix_filter_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _exploded_shingles(docs).select(
        "doc_id", F.xxhash64("shingle").alias("h"), "n_shingles"
    )


def _prefix_filter_tree(h: DataFrame, t: float, p: int, q: int) -> DataFrame:
    # r11 (guide §2.4: two operations keyed the same way share one
    # exchange): document frequency used to be groupBy("h") + join back
    # onto the postings — TWO shuffles of the token-scale posting table
    # plus a join. count(*) OVER (PARTITION BY h) computes the identical
    # per-key count on ONE h-keyed exchange, no join. A/B at sf0.1:
    # 2.45 → 1.95 s.
    ranked = h.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")),
    )
    # integer-exact ceil(t * n) = (p*n + q - 1) div q
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_shingles")
        - F.expr(f"({p} * n_shingles + {q - 1}) div {q}")
        + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("n_shingles").alias("na"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("n_shingles").alias("nb"),
        F.col("pos").alias("pb"),
    )
    # positional filter (PPJoin): a shared token at ranks (pa, pb) bounds the
    # overlap by min(pa,pb)-1 common tokens before it + itself + min of the
    # remaining tails; pairs whose bound misses the Jaccard-implied minimum
    # overlap ceil(t/(1+t)*(na+nb)) = (p*(na+nb) + p+q-1) div (p+q) can't
    # verify (t = p/q => t/(1+t) = p/(p+q), still an exact rational).
    overlap_bound = (
        F.least(F.col("pa") - 1, F.col("pb") - 1)
        + 1
        + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    )
    min_overlap = F.expr(f"({p} * (na + nb) + {p + q - 1}) div {p + q}")
    # r11 optimization round (guide §2.3/§3.2 — shrink the expensive side
    # before it meets the heavy payload): the pair-LEVEL PPJoin bound.
    # distinct() kept every pair that any single shared prefix token let
    # through; the 10x replica point measured 4.17M candidates for 250.6k
    # true pairs, and the verify tail then shuffled both docs' full hashed
    # shingle ARRAYS onto all 4.17M rows (8.7 of 15.9 s). Aggregating the
    # shared prefix tokens per pair (the same exchange the distinct paid)
    # gives the classic PPJoin bound: with c shared prefix tokens and
    # (mpa, mpb) the max shared ranks, any common token not among the c is
    # ordered after BOTH (sorted consistently by global (df, h) on both
    # sides — a common token before mpa in a and outside b's counted set
    # would rank before mpb in b, i.e. be one of the c; contradiction), so
    # overlap <= c + min(na - mpa, nb - mpb). Strictly tighter than the
    # per-row bound (which charged min(pa,pb)-1 assumed-common tokens
    # up-front), so it only removes pairs that cannot verify: recall stays
    # exact (pinned by test_prefix_filter_equals_exhaustive_join at two
    # thresholds). Rows the per-row filter drops prove their PAIR is
    # unverifiable (the row bound is already a pair-overlap bound), so the
    # undercounted c only ever tightens the bound on already-dead pairs.
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # same float size-band expression as the exhaustive oracle
            & (F.least("na", "nb") >= t * F.greatest("na", "nb"))
            & (overlap_bound >= min_overlap)
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("pa").alias("mpa"),
            F.max("pb").alias("mpb"),
        )
        .filter(
            F.col("c")
            + F.least(F.col("na") - F.col("mpa"), F.col("nb") - F.col("mpb"))
            >= min_overlap
        )
        .select("doc_a", "doc_b", "na", "nb")
    )
    # verify on per-doc hashed shingle SETS (same pattern as the MinHash
    # verifier): two doc-keyed joins against the candidate pairs plus a
    # per-row array_intersect, instead of re-joining candidates to the
    # postings table at shingle granularity — the old form shuffled
    # |candidates| x avg(n_shingles) posting rows through a re-aggregation.
    # r11 session 4 (§2.4, the minhash _doc_index precedent): sets feeds
    # BOTH verify sides, so its lane (cached-postings read + doc-keyed
    # exchange + collect_list) physically executed twice. Lineage-cut the
    # O(docs)-rows-of-longs index once; interleaved min-of A/B: sf0.1
    # 2.97 → 1.76 s, 10x replica 7.88 → 6.49 s (same-session pairs).
    sets = truncate_lineage(
        h.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))
    )
    pa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    pb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return inter.filter(jac >= t).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
        WITH a AS (
            SELECT doc_id, sha256(text) AS h FROM documents
        ),
        b AS (
            SELECT doc_id,
                   sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                               ELSE text END) AS h
            FROM documents WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT -(doc_id + 1) AS doc_id, sha256(text) AS h
            FROM documents WHERE doc_id % 13 = 0
        ),
        j AS (
            SELECT CASE WHEN b.h IS NULL THEN 'removed'
                        WHEN a.h IS NULL THEN 'added'
                        WHEN a.h <> b.h THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM a FULL OUTER JOIN b USING (doc_id)
        )
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM j GROUP BY status
    """,
    doc=(
        "Corpus snapshot diff -- the audit a versioned training-data "
        "pipeline runs between crawl N and crawl N+1: classify every "
        "doc_id as added / removed / changed / unchanged by comparing "
        "32-byte content digests through ONE full-outer join keyed on "
        "doc_id. Only (id, digest) pairs ever shuffle -- never document "
        "bodies -- so at 100 TB the diff costs two digest scans plus an "
        "id-keyed exchange, and feeds incremental processing (only "
        "'added'+'changed' re-enter dedup/quality). Snapshot B is derived "
        "in-plan from the fixture (10% dropped, every-7th edited, "
        "every-13th re-added under a NEGATIVE namespaced id -(doc_id+1), "
        "which cannot collide with any real non-negative doc_id at any "
        "scale — r3 advice: a fixed +1e6 offset collides once the corpus "
        "passes a million docs) so the diff is deterministic and "
        "oracle-checkable; a real deployment points the same plan at two "
        "parquet roots."
    ),
    tags=("dedup", "llm", "versioning"),
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.sha2("text", 256).alias("ha"))
    base = docs.filter(F.col("doc_id") % 10 != 0)
    b = base.select(
        "doc_id",
        F.sha2(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))
            ).otherwise(F.col("text")),
            256,
        ).alias("hb"),
    ).unionAll(
        docs.filter(F.col("doc_id") % 13 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            F.sha2("text", 256).alias("hb"),
        )
    )
    status = (
        F.when(F.col("hb").isNull(), "removed")
        .when(F.col("ha").isNull(), "added")
        .when(F.col("ha") != F.col("hb"), "changed")
        .otherwise("unchanged")
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "fuzzy_multi_block_pairs",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name FROM part),
        cand AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b
            FROM names a JOIN names b
              ON string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
             AND a.p_name < b.p_name
            UNION
            SELECT a.p_name, b.p_name
            FROM names a JOIN names b
              ON length(a.p_name) // 4 = length(b.p_name) // 4
             AND a.p_name < b.p_name
        )
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_distance
        FROM cand
        WHERE levenshtein(name_a, name_b) <= 4
    """,
    doc=(
        "Multi-key blocked fuzzy matching -- the recall-hardened form of "
        "fuzzy_name_pairs: candidates are the UNION of two independent "
        "blocking passes (leading token; length band len div 4), deduped "
        "before the Levenshtein verify so each pair pays the O(len^2) "
        "distance once no matter how many blocks caught it. Single-key "
        "blocking misses pairs whose difference sits in the blocking key "
        "itself (a typo in the head noun); redundant keys bound that "
        "failure mode -- a pair escapes only by differing in EVERY key. "
        "Each pass is the same dictionary-sized equi-join; at 100 TB add "
        "a phonetic-code pass as a third branch of the same union."
    ),
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def fuzzy_multi_block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()

    def block_pass(key: F.Column) -> DataFrame:
        a = names.select(F.col("p_name").alias("name_a"), key.alias("ka"))
        b = names.select(F.col("p_name").alias("name_b"), key.alias("kb"))
        return a.join(
            b,
            (F.col("ka") == F.col("kb")) & (F.col("name_a") < F.col("name_b")),
        ).select("name_a", "name_b")

    first_tok = F.split("p_name", " ")[0]
    len_band = F.expr("length(p_name) div 4")
    cand = block_pass(first_tok).union(block_pass(len_band)).distinct()
    dist = F.levenshtein("name_a", "name_b")
    return cand.filter(dist <= 4).select(
        "name_a", "name_b", dist.cast("bigint").alias("edit_distance")
    )


# Containment threshold: |A∩B| / |A| for the SMALLER shingle set A. A quote
# or excerpt re-published inside a larger page has high containment but low
# Jaccard (the union is dominated by the larger doc), so a Jaccard-only
# dedup pass ships both copies of the contained text to training.
CONTAINMENT_THRESHOLD = 0.85


@register(
    "containment_near_dup_pairs",
    oracle=f"""
        WITH {_SHINGLES_CTES},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        sized AS (
            SELECT sh.doc_id, sh.shingle, sizes.n
            FROM sh JOIN sizes USING (doc_id)
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   MIN(a.n) AS na, MIN(b.n) AS nb, COUNT(*) AS n_common
            FROM sized a
            JOIN sized b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        directed AS (
            SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                        THEN doc_a ELSE doc_b END AS doc_inner,
                   CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                        THEN doc_b ELSE doc_a END AS doc_outer,
                   n_common,
                   LEAST(na, nb) AS n_inner
            FROM inter
        )
        SELECT doc_inner, doc_outer,
               ROUND(n_common * 1.0 / n_inner, 6) AS containment
        FROM directed
        WHERE n_common * 1.0 / n_inner >= {CONTAINMENT_THRESHOLD}
    """,
    doc=(
        "CONTAINMENT near-dup pairs (|A intersect B| / |A| for the smaller "
        "shingle set A, Broder's containment coefficient): catches the "
        "subset-duplication Jaccard is blind to — a quote, excerpt, or "
        "syndicated article embedded in a larger page scores near-zero "
        "Jaccard (union dominated by the host page) but containment ~1. "
        "Same inverted-index equi-join as ngram_jaccard_pairs WITHOUT the "
        "size-band prune (asymmetric sizes are exactly the target), one "
        "hash-agg per co-shingle pair, direction chosen deterministically "
        "(smaller set inner, doc_id tie-break). At 100 TB the hot-shingle "
        "skew risk is the same as the Jaccard verifier's and the same "
        "MinHash/LSH candidate tier bounds it — run containment on LSH "
        "candidates, not the raw corpus."
    ),
    tags=("dedup", "llm", "containment"),
)
def containment_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs(load_table(spark, sf_dir, "documents"))


def _containment_pairs(docs: DataFrame) -> DataFrame:
    """Core containment join over any (doc_id, text) frame — split out so
    the hypothesis property test can drive it with arbitrary corpora."""
    exploded = _exploded_shingles(docs)
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    a_inner = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    directed = inter.select(
        F.when(a_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_inner"),
        F.when(a_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_outer"),
        F.col("n_common"),
        F.least(F.col("na"), F.col("nb")).alias("n_inner"),
    )
    containment = F.col("n_common") / F.col("n_inner")
    return directed.filter(containment >= CONTAINMENT_THRESHOLD).select(
        "doc_inner", "doc_outer", F.round(containment, 6).alias("containment")
    )


@register(
    "shingle_novelty_scores",
    oracle=f"""
        WITH {_SHINGLES_CTES},
        first_seen AS (
            SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
        )
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               ROUND(SUM(CASE WHEN first_seen.first_doc = sh.doc_id
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS novel_fraction
        FROM sh JOIN first_seen USING (shingle)
        GROUP BY sh.doc_id
    """,
    doc=(
        "Per-document shingle NOVELTY: the fraction of a doc's distinct "
        "word-3-gram shingles whose corpus-wide FIRST occurrence (minimum "
        "doc_id, the ingestion-order proxy) is this document. The "
        "profiling pass behind duplication-aware mixing: novelty ~1 means "
        "fresh text, ~0 means the doc is assembled from already-seen "
        "passages even when no single pair crosses a dedup threshold "
        "(template spam, scraped aggregations). Plan: one shingle-keyed "
        "MIN aggregate (the first-occurrence index), one equi-join back "
        "on shingle, one per-doc aggregate — every shuffle keyed on the "
        "shingle or the doc id, state bounded by distinct shingles, the "
        "same inverted index the dedup family already builds."
    ),
    tags=("dedup", "llm", "profiling"),
)
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _novelty_scores(load_table(spark, sf_dir, "documents"))


def _novelty_scores(docs: DataFrame) -> DataFrame:
    """Core novelty aggregation over any (doc_id, text) frame — split out
    so the hypothesis property test can drive it with arbitrary corpora."""
    sh = _exploded_shingles(docs).select("doc_id", "shingle")
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("novel_fraction"),
        )
    )


# Manku/Jain/Sarma (WWW'07) pigeonhole blocking for SimHash Hamming search:
# split the fingerprint into HAMMING_MAX + 1 blocks — any pair within
# HAMMING_MAX differing bits must agree EXACTLY on at least one block, so
# per-block equi-joins generate a complete candidate set without any
# all-pairs comparison. 62 bits / 4 blocks: two 16-bit + two 15-bit.
HAMMING_MAX = 3
_SH_BLOCKS = (  # (shift, width) per block, covering all _SH_BITS bits
    (0, 16),
    (16, 16),
    (32, 15),
    (47, 15),
)


@register(
    "simhash_hamming_near_dup",
    oracle=_simhash_cte()
    + f""",
        blocks AS (
            SELECT doc_id, simhash, b.block_idx,
                   CASE b.block_idx
                       WHEN 0 THEN (simhash >> 0) & 65535
                       WHEN 1 THEN (simhash >> 16) & 65535
                       WHEN 2 THEN (simhash >> 32) & 32767
                       WHEN 3 THEN (simhash >> 47) & 32767
                   END AS block_val
            FROM sh
            CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(block_idx)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM blocks a
            JOIN blocks b ON a.block_idx = b.block_idx
                         AND a.block_val = b.block_val
                         AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    """,
    doc=(
        "SimHash near-dup PAIRS via pigeonhole-blocked Hamming search — "
        "the Manku/Jain/Sarma WWW'07 design that ran Google's web-crawl "
        "dedup, completing the SimHash family from sketch (simhash_"
        "buckets) to pair detection: fingerprints within HAMMING_MAX=3 "
        "differing bits must agree exactly on one of 4 blocks "
        "(pigeonhole over 62 bits), so candidates come from 4 per-block "
        "equi-joins (one explode + one hash join, |docs|x4 rows) and "
        "each candidate is verified with a single bit_count(xor) — no "
        "all-pairs stage, no shingle re-join; the verify needs only the "
        "two 8-byte fingerprints already on the row. The portable token "
        "hash makes the whole chain — fingerprints, blocks, candidates, "
        "Hamming distances — bit-identical cross-engine, so an "
        "approximate dedup family member is value-hash-checked end to "
        "end. At 100 TB: block tables are (16-bit key, doc_id) pairs; "
        "hot blocks (common prefixes) are the skew risk, handled like "
        "every banding join by widening blocks or salting; Hamming "
        "threshold/recall trade documented in tests against the Jaccard "
        "verifier."
    ),
    tags=("dedup", "llm", "simhash", "headline"),
)
def simhash_hamming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs_core(
        simhash_buckets(spark, sf_dir).select("doc_id", "simhash")
    )


def _simhash_pairs_core(sh: DataFrame) -> DataFrame:
    """Pigeonhole-blocked Hamming pair search over a (doc_id, simhash)
    frame — split from the builder so the cascade can reuse it on
    fingerprints derived from a shared persisted documents scan.

    r11 (guide §2.4): the block table self-joins, so the WHOLE upstream
    fingerprint pipeline (scan → token explode → vocab-hash join → 62-bit
    aggregate) expanded once per join side — AQE's exchange reuse did not
    collapse the mirrored subtrees (measured; the formatted plan shows
    both copies). The fingerprint frame is two longs per document:
    lineage-cut it here so the pipeline runs ONCE for the registered
    query AND for the cascade's SimHash tier (A/B at sf0.1:
    3.01 → 1.70 s cold)."""
    sh = truncate_lineage(sh)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(idx).alias("block_idx"),
                        F.shiftright("simhash", shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for idx, (shift, width) in enumerate(_SH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.block_idx", "b.block_val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    # r11 session 4 (guide §2.3: filter before the exchange): the Hamming
    # verify is a per-row bit op on columns already on the joined row, so
    # it runs BEFORE the distinct — the dedup exchange then carries only
    # true pairs (output-scale) instead of every multi-block candidate
    # (<= 4x duplicated, plus all far-pair false candidates). Fingerprints
    # are unique per doc, so distinct over (doc_a, doc_b, hamming) is the
    # same pair set. A/B min-of-2: sf0.1 1.56 → 1.30 s, 10x parity;
    # output collected and compared equal.
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


@register(
    "cross_source_overlap_matrix",
    oracle="""
        WITH toks AS (SELECT source, string_split(text, ' ') AS t
                      FROM documents),
        sh AS (
            SELECT DISTINCT source,
                   unnest([sha256(array_to_string(t[i:i+7], ' '))
                           FOR i IN range(1, len(t) - 6)]) AS h
            FROM toks
        ),
        per AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b, s.n_shared,
               ROUND(s.n_shared * 1.0
                     / (pa.n + pb.n - s.n_shared), 6) AS jaccard
        FROM shared s
        JOIN per pa ON pa.source = s.source_a
        JOIN per pb ON pb.source = s.source_b
        ORDER BY jaccard DESC, source_a, source_b
    """,
    doc=(
        "CROSS-SOURCE DUPLICATION MATRIX: per source PAIR, the count and "
        "Jaccard overlap of shared 8-gram passage shingles — the "
        "provenance audit run before mixing crawl dumps (two snapshots of "
        "the same site show up as a high-overlap pair; licensing of one "
        "source contaminates its near-copies). Same windowed-sha2 shingle "
        "projection as cross_doc_repeated_passages, collapsed to DISTINCT "
        "(source, shingle) grain BEFORE the pair join, so the quadratic "
        "step fans out per shingle over at most |sources| postings — "
        "source-bounded, never doc-bounded. Per-source shingle counts "
        "broadcast back into the |sources|^2-row matrix. At 100 TB the "
        "only corpus-scale stages are the explode and the DISTINCT "
        "(both keyed on shingle hash); everything after is "
        "dimension-sized. Fully tie-broken ordering."
    ),
    tags=("dedup", "llm", "provenance"),
)
def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = 8  # oracle's t[i:i+7] is an INCLUSIVE DuckDB slice: 8 tokens
    # r11 optimization (guide §2.3): the shingle key is internal — only
    # DISTINCT-counts and equi-join matches survive to the output — so an
    # 8-byte xxhash64 replaces the 64-char sha2 hex string. Measured: the
    # distinct's shuffle dropped ~16.3 MB -> ~3 MB at sf0.1 and the
    # explode stage loses the sha256 cost; collision odds over the whole
    # corpus shingle set are ~|shingles|^2/2^64 (~1e-9 here), the same
    # accepted bound as the MinHash/prefix-filter verifiers. The oracle
    # keeps its own (engine-local) shingle key; outputs are identical.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (w - 1)),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, w), " ")),
    )
    guarded = F.when(F.size(toks) >= w, grams).otherwise(
        F.array().cast("array<bigint>")
    )
    # spread: the single-file scan is one task; without it the explode +
    # partial-distinct runs single-core (~2.5s/stage measured r11)
    # r11 (guide §2.4): sh feeds THREE consumers (per-source counts and
    # both pair-join sides); the explode + distinct re-expanded per
    # consumer. One (string, long) row per distinct source-shingle —
    # lineage-cut so the corpus-scale stages run once (A/B at sf0.1:
    # 1.52 → 1.26 s cold).
    sh = truncate_lineage(
        spread(docs, "doc_id").select(
            "source", F.explode(guarded).alias("h")
        ).distinct()
    )
    per = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("source_a"), F.asc("source_b"))
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
        WITH RECURSIVE {_COMPONENTS_CTES},
        csizes AS (
            SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY component_id
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM csizes GROUP BY cluster_size
        ORDER BY cluster_size
    """,
    doc=(
        "NEAR-DUP CLUSTER SIZE HISTOGRAM: the distribution of resolved "
        "duplicate-cluster sizes — the dedup yield report (how much of "
        "the corpus sits in 2-clusters vs mega-clusters decides survivor "
        "policy and flags boilerplate explosions; a power-law tail here "
        "is the classic crawl pathology). Reuses the connected-components "
        "resolution verbatim (builder AND recursive-CTE oracle), then two "
        "tiny keyed aggregates: component -> size, size -> (clusters, "
        "docs). At 100 TB both rollups are component-domain-sized; the "
        "histogram itself is O(distinct sizes) rows."
    ),
    tags=("dedup", "llm", "profiling"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = dedup_connected_components(spark, sf_dir)
    sizes = labeled.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


_FH_DIM = 128


@register(
    "feature_hashing_vectorizer",
    oracle=f"""
        WITH {_vhash_ctes()},
        th AS (
            SELECT t.doc_id, COALESCE(v.h, 0) AS h
            FROM toks t LEFT JOIN vhash v USING (tok)
        )
        SELECT doc_id,
               CAST(h % {_FH_DIM} AS BIGINT) AS feature,
               CAST(SUM(CASE WHEN ((h >> 61) & 1) = 1
                             THEN 1 ELSE -1 END) AS BIGINT) AS weight,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM th
        GROUP BY doc_id, h % {_FH_DIM}
    """,
    doc=(
        "FEATURE HASHING (the hashing trick, Weinberger et al. 2009): "
        f"each token lands in one of {_FH_DIM} buckets via the portable "
        "62-bit vocabulary hash (shared with SimHash — one hash per "
        "DISTINCT token, vocabulary-bounded), with a sign bit (bit 61, "
        "independent of the bucket bits) so collisions cancel in "
        "expectation — the unbiased-estimator property that makes "
        "hashed features usable without a vocabulary dictionary. Output "
        "is the long-form sparse matrix (doc, feature, signed weight, "
        "token count): exactly what a downstream trainer joins against, "
        "and shuffle-friendly at any scale (keyed on doc_id, bounded by "
        f"{_FH_DIM} features/doc). No vocabulary table ships anywhere — "
        "that is the point of the trick at 100 TB: the feature space is "
        "fixed-width regardless of corpus vocabulary growth."
    ),
    tags=("text", "llm", "features"),
)
def feature_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vhash = _vocab_hash(toks)
    th = toks.join(vhash, "tok", "left").select(
        "doc_id", F.coalesce("h", F.lit(0)).alias("h")
    )
    sign = F.when(
        F.shiftright("h", 61).bitwiseAND(F.lit(1)) == 1, F.lit(1)
    ).otherwise(F.lit(-1))
    return th.groupBy(
        "doc_id", (F.col("h") % _FH_DIM).alias("feature")
    ).agg(
        F.sum(sign).alias("weight"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@register(
    "entity_golden_records",
    oracle="""
        WITH RECURSIVE fpairs AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b
            FROM (SELECT DISTINCT p_name FROM part) a
            JOIN (SELECT DISTINCT p_name FROM part) b
              ON string_split(a.p_name, ' ')[-1]
                 = string_split(b.p_name, ' ')[-1]
             AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 4
        ),
        nid AS (
            SELECT p_name, CAST(MIN(p_partkey) AS BIGINT) AS nid
            FROM part GROUP BY 1
        ),
        edges AS (
            SELECT na.nid AS s, nb.nid AS d
            FROM fpairs j
            JOIN nid na ON na.p_name = j.name_a
            JOIN nid nb ON nb.p_name = j.name_b
            UNION
            SELECT nb.nid, na.nid
            FROM fpairs j
            JOIN nid na ON na.p_name = j.name_a
            JOIN nid nb ON nb.p_name = j.name_b
        ),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach AS (
            SELECT id, id AS r FROM nodes
            UNION
            SELECT e.d AS id, reach.r
            FROM reach JOIN edges e ON e.s = reach.id
        ),
        comp AS (SELECT id, MIN(r) AS ent FROM reach GROUP BY id),
        lab AS (
            SELECT n.p_name,
                   COALESCE(c.ent, n.nid) AS ent
            FROM nid n LEFT JOIN comp c ON c.id = n.nid
        ),
        canon AS (SELECT nid AS ent, p_name AS entity_name FROM nid)
        SELECT cn.entity_name,
               CAST(COUNT(DISTINCT l.p_name) AS BIGINT) AS n_names,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(MIN(CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT))
                    AS BIGINT) / 100.0 AS min_retailprice,
               CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands
        FROM part p
        JOIN lab l ON l.p_name = p.p_name
        JOIN canon cn ON cn.ent = l.ent
        GROUP BY cn.entity_name
    """,
    doc=(
        "ENTITY RESOLUTION END-TO-END (the MDM golden-record pipeline): "
        "blocked fuzzy pairs (fuzzy_name_pairs' blocking + Levenshtein "
        "verify) -> connected components over the match graph -> one "
        "GOLDEN RECORD per entity with deterministic survivorship "
        "(canonical name = the name holding the entity's minimum "
        "surrogate id; cheapest price in exact cents; name/part/brand "
        "counts). Names get NUMERIC surrogate ids (min partkey per "
        "name) so the min-label CC loop and its convergence checksum "
        "stay integer — and the same trick is what a 100 TB deployment "
        "wants anyway: component state shuffles 8-byte ids, never "
        "strings. Singleton names (no fuzzy match) are their own "
        "entity via the left join. Spark side reuses "
        "_cc_label_propagation (O(diameter) rounds, lineage-truncated); "
        "the oracle replays the closure as a recursive CTE. All "
        "aggregates are entity-keyed; the only quadratic step is "
        "per-block Levenshtein, inherited from fuzzy_name_pairs."
    ),
    tags=("dedup", "fuzzy", "entity-resolution", "graph", "iterative"),
)
def entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pairs = fuzzy_name_pairs(spark, sf_dir).select("name_a", "name_b")
    nid = part.groupBy("p_name").agg(
        F.min("p_partkey").cast("bigint").alias("nid")
    )
    na = nid.select(F.col("p_name").alias("name_a"), F.col("nid").alias("na"))
    nb = nid.select(F.col("p_name").alias("name_b"), F.col("nid").alias("nb"))
    e = (
        pairs.join(F.broadcast(na), "name_a")
        .join(F.broadcast(nb), "name_b")
        .select(F.col("na").alias("s"), F.col("nb").alias("d"))
    )
    edges = e.unionAll(e.selectExpr("d AS s", "s AS d")).distinct()
    labels, _ = _cc_label_propagation(edges)
    lab = nid.join(
        labels.withColumnRenamed("doc_id", "nid"), "nid", "left"
    ).select(
        "p_name", F.coalesce("comp", "nid").alias("ent")
    )
    canon = nid.select(
        F.col("nid").alias("ent"), F.col("p_name").alias("entity_name")
    )
    cents = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    return (
        part.join(F.broadcast(lab), "p_name")
        .join(F.broadcast(canon), "ent")
        .groupBy("entity_name")
        .agg(
            F.countDistinct("p_name").alias("n_names"),
            F.count(F.lit(1)).alias("n_parts"),
            (F.min(cents) / 100.0).alias("min_retailprice"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )


@register(
    "near_dup_similarity_distribution",
    oracle=f"""
        WITH {_JACCARD_PAIRS_CTES}
        SELECT CAST(FLOOR(jaccard * 20) AS BIGINT) AS sim_bin,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(MIN(jaccard), 6) AS min_jaccard,
               ROUND(MAX(jaccard), 6) AS max_jaccard
        FROM pairs
        GROUP BY 1
        ORDER BY sim_bin
    """,
    doc=(
        "NEAR-DUP SIMILARITY DISTRIBUTION: histogram of verified "
        "pairwise Jaccard over the candidate pairs (0.05-wide bins) — "
        "the threshold-tuning evidence behind every dedup deployment "
        "(a bimodal histogram says the 0.8 cut is safe; mass piling at "
        "the threshold says clones are escaping just under it). Reuses "
        "the shared Jaccard-pairs substrate verbatim (same CTEs as "
        "ngram_jaccard_pairs and the CC edge set). Binning floors the "
        "ALREADY-6dp-rounded jaccard, so bin boundaries cannot sit on "
        "engine float drift. Output is <= 20 bins; all the cost lives "
        "in the pair verifier, measured elsewhere. At 100 TB this runs "
        "on LSH candidates, inheriting minhash's scale path."
    ),
    tags=("dedup", "llm", "profiling", "statistics"),
)
def near_dup_similarity_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    return (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 20).cast("bigint").alias("sim_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("sim_bin")
    )


@register(
    "normalization_collision_dedup",
    oracle="""
        WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            -- synthesize case/punct/whitespace-perturbed twins for the
            -- first 50 docs (the fixture corpus is already byte-distinct,
            -- so raw exact dedup finds nothing to collapse here); negative
            -- ids can never collide with fixture ids at any scale
            SELECT -(doc_id + 1) AS doc_id,
                   upper(substr(text, 1, 1)) || substr(text, 2) || '  !!' AS text
            FROM documents WHERE doc_id < 50
        ),
        keyed AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_key
            FROM aug
        ),
        clusters AS (
            SELECT norm_key,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS keeper_id,
                   MAX(doc_id) AS max_member
            FROM keyed GROUP BY norm_key
        )
        SELECT norm_key, n_docs, keeper_id, max_member
        FROM clusters WHERE n_docs > 1
    """,
    doc=(
        "NORMALIZATION-COLLISION DEDUP: documents identical after text "
        "canonicalization (lowercase, strip non-alphanumerics, collapse "
        "whitespace, trim) but byte-distinct raw — the near-exact tier "
        "between exact_dedup_by_hash (catches nothing here) and MinHash "
        "(overkill for case/punctuation mirrors, the single most common "
        "duplication mode in web scrapes). Same synthesize-matches "
        "pattern as pii_scrub: perturbed twins with NEGATIVE derived ids "
        "(cannot collide with fixture ids at any scale factor — the "
        "lesson from corpus_snapshot_diff's reviewed offset bug). Plan: "
        "normalization is a codegen'd regexp projection; the md5 of the "
        "canonical form — never the text — is what shuffles; one hash "
        "aggregate keyed on the digest, keeper = min id. Identical shape "
        "and cost to exact dedup at 100 TB."
    ),
    tags=("dedup", "llm", "text"),
)
def normalization_collision_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") < 50).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(
            F.upper(F.substring("text", 1, 1)),
            F.expr("substring(text, 2)"),
            F.lit("  !!"),
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(twins)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    keyed = aug.select("doc_id", F.md5(norm).alias("norm_key"))
    return (
        keyed.groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.max("doc_id").alias("max_member"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --- Bloom-filter decontamination -------------------------------------------

# m bits / k hashes sized for the gate-scale fixture (1,355 distinct
# eval shingles at sf0.01): m=8192, k=4 puts the per-probe FP rate near
# (1-e^(-kn/m))^k ~ 5% — deliberately tight so the fixture MEASURES
# false positives (sf0.01: 24,752 probes -> 1,233 bloom-only hits across
# 402 docs) instead of vacuously passing on an all-zero column. A
# deployment sizes m for its blocklist (~9.6 bits/entry per 1% FP
# target); the plan is unchanged.
# The k positions are independent 32-bit slices of the sha-256 shingle
# digest (hex-parsed, mod m): bit-identical integer arithmetic in Spark
# (conv) and DuckDB (0x cast), so the filter — and every per-doc count —
# is hash-verified, not just row-counted. 32-bit words keep the max
# shift at 31, inside signed-bigint range in both engines.
_BLOOM_BITS = 8192
_BLOOM_HASHES = 4
_BLOOM_WORDS = _BLOOM_BITS // 32


def _bloom_hex_slices_sql(dig_expr: str) -> str:
    return ",".join(
        f"(CAST(('0x' || substr({dig_expr}, {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {_BLOOM_BITS})"
        for i in range(_BLOOM_HASHES)
    )


@register(
    "bloom_filter_decontam",
    oracle=f"""
        WITH {_SHINGLES_CTES},
        eval_sh AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
        ),
        eval_pos AS (
            SELECT DISTINCT
                   unnest([{_bloom_hex_slices_sql("sha256(shingle)")}]) AS pos
            FROM eval_sh
        ),
        bitmap AS (
            SELECT pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
            FROM eval_pos GROUP BY pos // 32
        ),
        train_pos AS (
            SELECT doc_id, shingle,
                   unnest([{_bloom_hex_slices_sql("sha256(shingle)")}]) AS pos
            FROM sh WHERE doc_id % 20 <> 0
        ),
        shingle_probe AS (
            SELECT t.doc_id, t.shingle,
                   MIN(CASE WHEN (COALESCE(b.bits, 0)
                                  >> CAST(t.pos % 32 AS INTEGER)) & 1 = 1
                            THEN 1 ELSE 0 END) AS bloom_hit
            FROM train_pos t
            LEFT JOIN bitmap b ON b.word = t.pos // 32
            GROUP BY t.doc_id, t.shingle
        ),
        shingle_exact AS (
            SELECT s.doc_id, s.shingle,
                   CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
            FROM sh s LEFT JOIN eval_sh e USING (shingle)
            WHERE s.doc_id % 20 <> 0
        )
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(x.exact_hit) AS BIGINT) AS exact_hits,
               CAST(SUM(p.bloom_hit) AS BIGINT) AS bloom_hits
        FROM shingle_probe p
        JOIN shingle_exact x USING (doc_id, shingle)
        GROUP BY p.doc_id
    """,
    doc=(
        f"BLOOM-FILTER DECONTAMINATION PREFILTER: an {_BLOOM_BITS}-bit / "
        f"{_BLOOM_HASHES}-hash Bloom filter built over the eval set's "
        "distinct shingle digests (fixture proxy: doc_id % 20 == 0), "
        "probed by every training document's shingles — how a "
        "multi-billion-entry blocklist runs against a 100 TB corpus "
        "without shuffling either side: the filter collapses to a "
        f"fixed {_BLOOM_WORDS}-word bitmap (map-side partial bit_or, "
        "bounded driver pull, then a PLAN LITERAL broadcast to every "
        "task), and each probe is pure in-plan integer arithmetic on "
        "the scan — no join, no shuffle, the blocklist never moves "
        "again. Output per training doc: total / exact-hit / bloom-hit "
        "shingle counts, so the false-positive excess (bloom_hits - "
        "exact_hits) is measured in the result while the no-false-"
        "negative guarantee is hash-verified (bloom_hits >= exact_hits "
        "on every row). Docs whose bloom_hits clear a threshold "
        "proceed to the exact verify join (decontamination_overlap); "
        "sub-threshold docs — the overwhelming majority at scale — "
        "never touch it. Hash positions are independent 32-bit slices "
        "of the sha-256 digest: identical integer arithmetic in both "
        "engines, so the driver hash-checks the filter itself."
    ),
    tags=("dedup", "llm", "decontamination", "scale"),
)
def bloom_filter_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs)
    is_eval = F.col("doc_id") % 20 == 0
    dig = F.sha2(F.col("shingle"), 256)
    positions = [
        F.conv(F.substring(dig, 1 + 8 * i, 8), 16, 10).cast("long") % _BLOOM_BITS
        for i in range(_BLOOM_HASHES)
    ]

    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    bitmap_rows = (
        eval_sh.select(F.explode(F.array(*positions)).alias("pos"))
        .distinct()
        .groupBy((F.col("pos") / 32).cast("long").alias("word"))
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(pos % 32 AS INT))")).alias("bits"))
        .collect()  # bounded: <= _BLOOM_WORDS rows by construction
    )
    words = {int(r.word): int(r.bits) for r in bitmap_rows}
    bm = F.array(*[F.lit(words.get(w, 0)) for w in range(_BLOOM_WORDS)])

    probed = sh.filter(~is_eval).select(
        "doc_id",
        "shingle",
        "n_shingles",
        bm.alias("bm"),
        *[(p / 32).cast("int").alias(f"w{i}") for i, p in enumerate(positions)],
        *[(p % 32).cast("int").alias(f"b{i}") for i, p in enumerate(positions)],
    )
    hit_terms = [
        F.expr(f"(shiftright(element_at(bm, w{i} + 1), b{i}) & 1) = 1")
        for i in range(_BLOOM_HASHES)
    ]
    all_hit = hit_terms[0]
    for t in hit_terms[1:]:
        all_hit = all_hit & t
    per_shingle = probed.select(
        "doc_id",
        "shingle",
        "n_shingles",
        F.when(all_hit, 1).otherwise(0).alias("bloom_hit"),
    ).join(
        F.broadcast(eval_sh.withColumn("eh", F.lit(1))), "shingle", "left"
    ).select(
        "doc_id",
        "n_shingles",
        "bloom_hit",
        F.coalesce("eh", F.lit(0)).alias("exact_hit"),
    )
    return per_shingle.groupBy("doc_id").agg(
        F.max("n_shingles").cast("bigint").alias("n_shingles"),
        F.sum("exact_hit").cast("bigint").alias("exact_hits"),
        F.sum("bloom_hit").cast("bigint").alias("bloom_hits"),
    )


# --- Jaro-Winkler record linkage (scalar pandas_udf demonstration) ----------

_JW_TOPK = 20


def _jaro_winkler_py(a: str, b: str) -> float:
    """Textbook Jaro-Winkler (Winkler boost above 0.7, prefix cap 4) —
    the same definition DuckDB's jaro_winkler_similarity implements,
    which is what makes the oracle an INDEPENDENT implementation of the
    metric rather than an echo of this one."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # DuckDB: two empties are 0, not 1
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    match_a = [False] * la
    match_b = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    # transpositions = HALF the mismatched aligned matches, FLOORED —
    # the integer-division form DuckDB (and Winkler's original code)
    # uses; fractional t/2 diverges on odd mismatch counts
    jaro = (m / la + m / lb + (m - t // 2) / m) / 3.0
    if jaro > 0.7:
        l = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca != cb:
                break
            l += 1
        jaro += l * 0.1 * (1.0 - jaro)
    return jaro


@register(
    "jaro_winkler_linkage_topk",
    oracle=f"""
        SELECT c_custkey, s_suppkey,
               ROUND(jaro_winkler_similarity(c_name, s_name), 6) AS jw_sim
        FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        ORDER BY jw_sim DESC, c_custkey ASC, s_suppkey ASC
        LIMIT {_JW_TOPK}
    """,
    doc=(
        "JARO-WINKLER RECORD LINKAGE, blocked by nation: the top-"
        f"{_JW_TOPK} customer-supplier name pairs by Jaro-Winkler "
        "similarity — the edit-distance-free string metric record "
        "linkage actually uses for person/org names (transposition-"
        "tolerant, prefix-weighted), complementing the Levenshtein "
        "fuzzy_name_pairs tier. Spark has NO built-in Jaro-Winkler, so "
        "this is the repo's demonstration of the SCALAR @pandas_udf "
        "seam: the metric runs as an Arrow-batched vectorized UDF "
        "(one Python call per batch, not per row) inside an otherwise "
        "JVM-side plan — blocking join, similarity, rounding, "
        "TakeOrderedAndProject all stay declarative. The DuckDB oracle "
        "uses its NATIVE jaro_winkler_similarity — an independent "
        "implementation of the textbook definition (Winkler boost "
        "above 0.7, prefix cap 4) — so the hash check certifies the "
        "UDF against a second engine's metric, not against itself. "
        "Blocking bounds pairs to within-nation; at 100 TB the same "
        "plan runs per-block with the UDF cost linear in candidate "
        "pairs, and the top-k is per-partition heaps."
    ),
    tags=("dedup", "linkage", "pandas-udf", "join"),
)
def jaro_winkler_linkage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _jw_batch(a, b):
        return pd.Series(
            [_jaro_winkler_py(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    # module-wide `from __future__ import annotations` stringifies hints,
    # which pandas_udf's type inference rejects — attach REAL type
    # objects so the Series->Series scalar eval type is inferred
    _jw_batch.__annotations__ = {
        "a": pd.Series,
        "b": pd.Series,
        "return": pd.Series,
    }
    jw = pandas_udf(_jw_batch, DoubleType())

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(jw(F.col("c_name"), F.col("s_name")), 6).alias("jw_sim"),
        )
        .orderBy(F.desc("jw_sim"), F.asc("c_custkey"), F.asc("s_suppkey"))
        .limit(_JW_TOPK)
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (fixed m/u weights)
# ---------------------------------------------------------------------------

# Published-style conditional probabilities per comparison field:
# m = P(field agrees | records match), u = P(field agrees | non-match).
# Fixed constants (no EM fit) keep the score a pure deterministic
# projection, so the DuckDB oracle can replay it exactly.
_FS_FIELDS = {
    # field: (m, u) — keyed to the synthetic tables' shared columns
    # (name / acctbal / nationkey; the testdata customer carries no
    # address or phone)
    "balance_band": (0.85, 0.10),   # floor(acctbal/1000) equal
    "balance_sign": (0.95, 0.50),   # same side of zero (weak field)
    "name_num_100": (0.92, 0.01),   # entity number mod 100 equal
    "name_num_7": (0.90, 0.14),     # entity number mod 7 equal
}
_FS_TOPK = 50


def _fs_weights(m: float, u: float) -> tuple[float, float]:
    """Agreement / disagreement log2 odds for one field, as exact
    Python-float literals baked into BOTH engines' plans (identical
    doubles -> identical sums -> stable value hash)."""
    import math

    return math.log2(m / u), math.log2((1.0 - m) / (1.0 - u))


def _fs_agree_exprs_sql() -> dict[str, str]:
    """ANSI-SQL agreement predicates, shared text for both engines."""
    return {
        "balance_band": "floor(c_acctbal / 1000.0) = floor(s_acctbal / 1000.0)",
        "balance_sign": "(c_acctbal < 0.0) = (s_acctbal < 0.0)",
        "name_num_100": (
            "CAST(substr(c_name, 10) AS BIGINT) % 100"
            " = CAST(substr(s_name, 10) AS BIGINT) % 100"
        ),
        "name_num_7": (
            "CAST(substr(c_name, 10) AS BIGINT) % 7"
            " = CAST(substr(s_name, 10) AS BIGINT) % 7"
        ),
    }


def _fs_weight_sql() -> str:
    """The summed CASE-WHEN weight expression, literal-identical in the
    Spark plan and the DuckDB oracle."""
    parts = []
    exprs = _fs_agree_exprs_sql()
    for field, (m, u) in _FS_FIELDS.items():
        wa, wd = _fs_weights(m, u)
        # CAST(... AS DOUBLE): Spark parses a bare fractional literal as
        # DECIMAL (DuckDB as DOUBLE) — the cast pins BOTH engines to the
        # identical IEEE double before any addition happens
        parts.append(
            f"(CASE WHEN {exprs[field]}"
            f" THEN CAST({wa!r} AS DOUBLE)"
            f" ELSE CAST({wd!r} AS DOUBLE) END)"
        )
    return " + ".join(parts)


@register(
    "fellegi_sunter_linkage",
    oracle=f"""
        SELECT c_custkey, s_suppkey,
               ROUND({_fs_weight_sql()}, 6) AS fs_weight,
               CASE WHEN ({_fs_weight_sql()}) >= 6.0 THEN 'match'
                    WHEN ({_fs_weight_sql()}) >= 0.0 THEN 'possible'
                    ELSE 'non_match' END AS fs_decision
        FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        ORDER BY fs_weight DESC, c_custkey ASC, s_suppkey ASC
        LIMIT {_FS_TOPK}
    """,
    doc=(
        "FELLEGI-SUNTER PROBABILISTIC RECORD LINKAGE (the 1969 theory "
        "behind every serious entity-resolution system): candidate "
        "customer-supplier pairs blocked by nation, each compared on "
        f"{len(_FS_FIELDS)} fields (balance band, balance sign, "
        "name-number residues mod 100 and mod 7); every field contributes "
        "log2(m/u) on agreement and log2((1-m)/(1-u)) on disagreement "
        "with FIXED published-style m/u constants, and the summed "
        "match weight is thresholded into match / possible / non_match "
        "review classes. Complements the string-similarity linkage "
        "tiers (jaro_winkler_linkage_topk, fuzzy_name_pairs) with the "
        "decision-theoretic scoring layer that consumes them. The "
        "weight literals are computed once in Python and baked into "
        "BOTH plans as identical doubles, so the DuckDB hash check "
        "certifies the full score pipeline. Plan: one blocked "
        "equi-join, then a pure codegen CASE-WHEN projection (no UDF, "
        "no shuffle beyond the join), TakeOrderedAndProject for the "
        "top-k. At 100 TB: blocking bounds candidate pairs exactly as "
        "production linkage does; scoring is embarrassingly parallel "
        "map-side work; EM weight fitting would add one bounded "
        "agreement-pattern groupBy (2^4 cells) per iteration."
    ),
    tags=("dedup", "linkage", "scoring", "join"),
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    weight = F.expr(_fs_weight_sql())
    return (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(weight, 6).alias("fs_weight"),
            F.when(weight >= 6.0, F.lit("match"))
            .when(weight >= 0.0, F.lit("possible"))
            .otherwise(F.lit("non_match"))
            .alias("fs_decision"),
        )
        .orderBy(F.desc("fs_weight"), F.asc("c_custkey"), F.asc("s_suppkey"))
        .limit(_FS_TOPK)
    )


@register(
    "linkage_agreement_patterns",
    oracle=f"""
        WITH pairs AS (
            SELECT {", ".join(f"CAST(({e}) AS INT) AS ag_{f}" for f, e in _fs_agree_exprs_sql().items())}
            FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        ), cells AS (
            SELECT {", ".join(f"ag_{f}" for f in _FS_FIELDS)}, COUNT(*) AS observed
            FROM pairs
            GROUP BY {", ".join(f"ag_{f}" for f in _FS_FIELDS)}
        ), marginals AS (
            SELECT SUM(observed) AS n_pairs,
                   {", ".join(f"CAST(SUM(observed * ag_{f}) AS DOUBLE) / CAST(SUM(observed) AS DOUBLE) AS p_{f}" for f in _FS_FIELDS)}
            FROM cells
        )
        SELECT {", ".join(f"ag_{f}" for f in _FS_FIELDS)}, observed,
               ROUND(CAST(n_pairs AS DOUBLE)
                     {" ".join(f"* (CASE WHEN ag_{f} = 1 THEN p_{f} ELSE CAST(1.0 AS DOUBLE) - p_{f} END)" for f in _FS_FIELDS)},
                     4) AS expected_indep
        FROM cells CROSS JOIN marginals
        ORDER BY {", ".join(f"ag_{f}" for f in _FS_FIELDS)}
    """,
    doc=(
        "LINKAGE AGREEMENT-PATTERN HISTOGRAM: the 2^4-cell contingency "
        "table of per-field agreement indicators over the blocked "
        "candidate pairs, with each cell's observed count set against "
        "its expected count under full field independence (product of "
        "marginal agreement rates x pair total). This table IS the "
        "sufficient statistic the Fellegi-Sunter EM weight fit consumes "
        "(each EM iteration re-weights exactly these <=16 rows), and "
        "the observed-vs-expected gap audits the conditional-"
        "independence assumption fellegi_sunter_linkage's fixed weights "
        "rely on. Plan: one blocked join scanned ONCE into a cached-"
        "free dual aggregation — a 16-cell groupBy plus a 1-row "
        "marginal agg — joined by a broadcast-able single-row cross "
        "join; every output is bounded by 2^#fields regardless of "
        "corpus size, so at 100 TB the reduce side is constant-size "
        "and EM iterations are driver-cheap."
    ),
    tags=("dedup", "linkage", "aggregation"),
)
def linkage_agreement_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    exprs = _fs_agree_exprs_sql()
    pairs = c.join(s, c.c_nationkey == s.s_nationkey).select(
        *[
            F.expr(f"CAST(({e}) AS INT)").alias(f"ag_{f}")
            for f, e in exprs.items()
        ]
    )

    ag_cols = [f"ag_{f}" for f in _FS_FIELDS]
    cells = pairs.groupBy(*ag_cols).agg(F.count(F.lit(1)).alias("observed"))

    def _with_expected(cells_df: DataFrame) -> DataFrame:
        # marginals fold FROM the 16-cell table (sum observed*indicator
        # / sum observed), so the blocked join is scanned exactly once;
        # cells feeds TWO subtrees, hence the persisted_result wrapper
        marginals = cells_df.agg(
            F.sum("observed").alias("n_pairs"),
            *[
                (
                    F.sum(F.col("observed") * F.col(f"ag_{f}")).cast("double")
                    / F.sum("observed").cast("double")
                ).alias(f"p_{f}")
                for f in _FS_FIELDS
            ],
        )
        expected = F.col("n_pairs").cast("double")
        for f in _FS_FIELDS:
            expected = expected * F.when(
                F.col(f"ag_{f}") == 1, F.col(f"p_{f}")
            ).otherwise(F.lit(1.0).cast("double") - F.col(f"p_{f}"))
        return (
            cells_df.crossJoin(F.broadcast(marginals))
            .select(
                *ag_cols,
                "observed",
                F.round(expected, 4).alias("expected_indep"),
            )
            .orderBy(*ag_cols)
        )

    return persisted_result(cells, _with_expected)


# EM initialization for the m/u re-estimation step: deliberately vague
# priors (the point of EM is that it sharpens them from the data)
_FS_EM_INIT = {f: (0.8, 0.2) for f in _FS_FIELDS}
_FS_EM_LAMBDA = 0.05  # prior match prevalence among blocked candidates


def _fs_em_sql_fragments() -> tuple[str, str]:
    """(P(pattern|M), P(pattern|U)) product expressions over the ag_*
    indicator columns, literal-identical in both engines."""
    pm, pu = [], []
    for f, (m0, u0) in _FS_EM_INIT.items():
        pm.append(
            f"(CASE WHEN ag_{f} = 1 THEN CAST({m0!r} AS DOUBLE)"
            f" ELSE CAST({1.0 - m0!r} AS DOUBLE) END)"
        )
        pu.append(
            f"(CASE WHEN ag_{f} = 1 THEN CAST({u0!r} AS DOUBLE)"
            f" ELSE CAST({1.0 - u0!r} AS DOUBLE) END)"
        )
    return " * ".join(pm), " * ".join(pu)


def _fs_em_cells_sql() -> str:
    """Shared CTE text: blocked pairs -> pattern cells -> per-pattern
    E-step responsibilities, identical in Spark SQL and DuckDB."""
    exprs = _fs_agree_exprs_sql()
    pm, pu = _fs_em_sql_fragments()
    lam = f"CAST({_FS_EM_LAMBDA!r} AS DOUBLE)"
    return f"""
        WITH pairs AS (
            SELECT {", ".join(f"CAST(({e}) AS INT) AS ag_{f}" for f, e in exprs.items())}
            FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        ), cells AS (
            SELECT {", ".join(f"ag_{f}" for f in _FS_FIELDS)},
                   CAST(COUNT(*) AS DOUBLE) AS observed
            FROM pairs
            GROUP BY {", ".join(f"ag_{f}" for f in _FS_FIELDS)}
        ), estep AS (
            SELECT *,
                   ({lam} * {pm})
                   / (({lam} * {pm}) + ((CAST(1.0 AS DOUBLE) - {lam}) * {pu}))
                   AS g
            FROM cells
        )
    """


@register(
    "fellegi_sunter_em_step",
    oracle=f"""
        {_fs_em_cells_sql()}
        SELECT field,
               ROUND(m_new, 6) AS m_new,
               ROUND(u_new, 6) AS u_new,
               ROUND(lambda_new, 6) AS lambda_new
        FROM (
            {" UNION ALL ".join(
                f'''SELECT '{f}' AS field,
                       SUM(g * observed * ag_{f}) / SUM(g * observed) AS m_new,
                       SUM((CAST(1.0 AS DOUBLE) - g) * observed * ag_{f})
                           / SUM((CAST(1.0 AS DOUBLE) - g) * observed) AS u_new,
                       SUM(g * observed) / SUM(observed) AS lambda_new
                    FROM estep'''
                for f in _FS_FIELDS
            )}
        )
        ORDER BY field
    """,
    doc=(
        "FELLEGI-SUNTER EM RE-ESTIMATION (one exact iteration of the "
        "Winkler 1988 unsupervised weight fit): starting from vague "
        "priors (m=0.8, u=0.2, lambda=0.05), the E-step assigns each "
        "agreement PATTERN a match responsibility g = lambda*P(pat|M) "
        "/ (lambda*P(pat|M) + (1-lambda)*P(pat|U)), and the M-step "
        "re-estimates every field's m (g-weighted agreement rate), u "
        "((1-g)-weighted agreement rate) and the match prevalence "
        "lambda — all as sums over the <=2^4-row pattern histogram, "
        "never the pair set, which is what makes EM linkage tractable "
        "at any corpus size (the blocked join is scanned once to build "
        "the histogram; every EM iteration after that is constant "
        "work). This op closes the linkage trio: agreement patterns "
        "(the sufficient statistic) -> EM step (weight fitting) -> "
        "fellegi_sunter_linkage (decision scoring). All probability "
        "literals enter both engines as CAST(... AS DOUBLE) text, so "
        "the DuckDB hash check certifies the full E+M arithmetic."
    ),
    tags=("dedup", "linkage", "aggregation"),
)
def fellegi_sunter_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )

    exprs = _fs_agree_exprs_sql()
    pairs = c.join(s, c.c_nationkey == s.s_nationkey).select(
        *[
            F.expr(f"CAST(({e}) AS INT)").alias(f"ag_{f}")
            for f, e in exprs.items()
        ]
    )
    ag_cols = [f"ag_{f}" for f in _FS_FIELDS]
    cells = pairs.groupBy(*ag_cols).agg(
        F.count(F.lit(1)).cast("double").alias("observed")
    )
    pm, pu = _fs_em_sql_fragments()
    lam = f"CAST({_FS_EM_LAMBDA!r} AS DOUBLE)"
    g_expr = (
        f"({lam} * {pm})"
        f" / (({lam} * {pm}) + ((CAST(1.0 AS DOUBLE) - {lam}) * {pu}))"
    )

    def _mstep(cells_df: DataFrame) -> DataFrame:
        estep = cells_df.withColumn("g", F.expr(g_expr))
        per_field = [
            estep.agg(
                F.lit(f).alias("field"),
                (
                    F.sum(F.expr(f"g * observed * ag_{f}"))
                    / F.sum(F.expr("g * observed"))
                ).alias("m_new"),
                (
                    F.sum(
                        F.expr(
                            f"(CAST(1.0 AS DOUBLE) - g) * observed * ag_{f}"
                        )
                    )
                    / F.sum(F.expr("(CAST(1.0 AS DOUBLE) - g) * observed"))
                ).alias("u_new"),
                (F.sum(F.expr("g * observed")) / F.sum("observed")).alias(
                    "lambda_new"
                ),
            )
            for f in _FS_FIELDS
        ]
        out = per_field[0]
        for part in per_field[1:]:
            out = out.unionAll(part)
        return out.select(
            "field",
            F.round("m_new", 6).alias("m_new"),
            F.round("u_new", 6).alias("u_new"),
            F.round("lambda_new", 6).alias("lambda_new"),
        ).orderBy("field")

    return persisted_result(cells, _mstep)


# --- Round-6: content-defined chunking ------------------------------------------

_CDC_WIN = 8  # rolling window width (bytes of context per boundary test)
_CDC_MOD = 17  # boundary when rolling sum % mod == 0 -> mean chunk ~17 chars
_CDC_FP_MOD = 1_000_000_007


@register(
    "content_defined_chunking",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id, i, ascii(substr(text, CAST(i AS INT), 1)) AS code
            FROM (SELECT doc_id, text, unnest(range(1, n_chars + 1)) AS i
                  FROM documents)
        ),
        rolled AS (
            SELECT doc_id, i, code,
                   CASE WHEN i >= {_CDC_WIN}
                         AND SUM(code) OVER (
                             PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN {_CDC_WIN - 1} PRECEDING
                                      AND CURRENT ROW
                         ) % {_CDC_MOD} = 0
                        THEN 1 ELSE 0 END AS boundary
            FROM chars
        ),
        chunked AS (
            SELECT doc_id, i, code, boundary,
                   CAST(COALESCE(SUM(boundary) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS chunk_id
            FROM rolled
        ),
        lped AS (
            SELECT doc_id, chunk_id, code,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id, chunk_id ORDER BY i
                   ) AS lp
            FROM chunked
        ),
        fps AS (
            SELECT doc_id, chunk_id,
                   CAST(COUNT(*) AS BIGINT) AS chunk_len,
                   CAST(SUM(code * lp) % {_CDC_FP_MOD} AS BIGINT) AS fp
            FROM lped GROUP BY doc_id, chunk_id
        ),
        occ AS (
            SELECT fp, chunk_len, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM fps GROUP BY fp, chunk_len
        )
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(f.chunk_len) AS BIGINT) AS n_chars,
               CAST(SUM(CASE WHEN o.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
               CAST(SUM(CASE WHEN o.n_occ > 1 THEN f.chunk_len ELSE 0 END)
                    AS BIGINT) AS dup_chars
        FROM fps f JOIN occ o USING (fp, chunk_len)
        GROUP BY f.doc_id
    """,
    doc=(
        "CONTENT-DEFINED CHUNKING + cross-document chunk dedup — the "
        "rsync/LBFS/backup-deduplication primitive, the byte-level "
        "complement of shingle dedup: chunk boundaries fall where a "
        f"rolling {_CDC_WIN}-byte content sum hits 0 mod {_CDC_MOD} "
        "(content-defined, so an insertion only reshapes NEIGHBORING "
        "chunks — fixed-width blocks would shift every later boundary, "
        "which is the whole point of CDC), each chunk gets an "
        "order-sensitive integer fingerprint (position-weighted code "
        "sum mod 1e9+7, the doc_fingerprints portable pattern), and "
        "chunks recurring anywhere in the corpus are counted as "
        "dedup-able bytes per document. Plan (r7, the SCALE.md:653-657 "
        "promise made real): ONE Arrow mapInPandas pass per doc computes "
        "boundaries, chunk lengths, and fingerprints vectorized in numpy "
        "(cumsum rolling window + reduceat segment sums) — no row-per-"
        "character explode, so the shuffled relation is CHUNKS (~1/17 of "
        "chars) not characters (the r6 verdict's 40-100x row-inflation "
        "constant is gone); then one (fp,len)-keyed occurrence join — "
        "shuffle carries fingerprints, never text. The r6 explode/window "
        "form is kept as _cdc_explode_form, the oracle-mirrorable twin, "
        "and pytest pins bit-equality between the two at sf0.001 and "
        "sf0.01. All exact integers."
    ),
    tags=("dedup", "llm", "multimodal", "scale", "pandas-udf"),
)
def content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_dedup_tail(cdc_gear_fps(spark, sf_dir))


def cdc_gear_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY Arrow gear pass — (doc_id, chunk_id, chunk_len, fp), one
    mapInPandas over the pruned documents scan. Split from the registered
    builder so plan tests can assert the Arrow node and the no-explode
    property on the un-truncated tree (the registered plan lineage-cuts
    this frame in _cdc_dedup_tail, hiding it behind a checkpoint scan)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    docs = load_table(spark, sf_dir, "documents")

    fp_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("chunk_id", LongType()),
            StructField("chunk_len", LongType()),
            StructField("fp", LongType()),
        ]
    )

    def gear_pass(batches):
        for pdf in batches:
            out_doc, out_chunk, out_len, out_fp = [], [], [], []
            for doc_id, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                if n_chars is None or pd.isna(n_chars):
                    continue  # oracle range(1, NULL+1) yields no rows
                n = int(n_chars)
                if n <= 0:
                    continue  # oracle range(1, n_chars+1) is empty
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    # oracle: NULL codes -> the doc's single chunk carries
                    # fp = SUM(NULL*lp) = NULL, and a NULL fp can never
                    # survive the equi-join on (fp, chunk_len) in EITHER
                    # engine — the doc is absent from the output both ways
                    continue
                # codepoints, vectorized — identical to SQL ascii(substr);
                # the oracle iterates i = 1..n_chars, so pad positions past
                # the end with ascii('') = 0 (verified identical in both
                # engines) and truncate anything beyond n_chars
                codes = np.frombuffer(
                    str(text).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)[:n]
                if len(codes) < n:
                    codes = np.concatenate(
                        (codes, np.zeros(n - len(codes), dtype=np.int64))
                    )
                cs = np.concatenate(([0], np.cumsum(codes)))
                boundary = np.zeros(n, dtype=np.int64)
                if n >= _CDC_WIN:
                    roll = cs[_CDC_WIN:] - cs[:-_CDC_WIN]
                    boundary[_CDC_WIN - 1 :] = roll % _CDC_MOD == 0
                # a boundary char is the LAST char of its chunk (the SQL
                # chunk_id is the count of boundaries STRICTLY before i)
                b_idx = np.flatnonzero(boundary) + 1
                starts = np.concatenate(([0], b_idx[b_idx < n]))
                lens = np.diff(np.concatenate((starts, [n])))
                lp = (
                    np.arange(n, dtype=np.int64)
                    - np.repeat(starts, lens)
                    + 1
                )
                wsum = np.add.reduceat(codes * lp, starts)
                k = len(starts)
                out_doc.append(np.full(k, doc_id, dtype=np.int64))
                out_chunk.append(np.arange(k, dtype=np.int64))
                out_len.append(lens)
                out_fp.append(wsum % _CDC_FP_MOD)
            if not out_doc:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_doc),
                    "chunk_id": np.concatenate(out_chunk),
                    "chunk_len": np.concatenate(out_len),
                    "fp": np.concatenate(out_fp),
                }
            )

    return (
        spread(docs.select("doc_id", "text", "n_chars"), "doc_id")
        .mapInPandas(gear_pass, schema=fp_schema)
    )


def _cdc_dedup_tail(fps: DataFrame) -> DataFrame:
    """Shared finish for both CDC forms: cross-corpus (fp, len) occurrence
    counts joined back and rolled up per document.

    r11 (guide §2.4/§4): ``fps`` feeds the occurrence aggregate AND the
    join-back, so the upstream chunker (the Arrow gear pass for the
    registered form) physically ran twice. The frame is four longs per
    chunk — lineage-cut it so the Python stage runs ONCE (A/B sf0.1:
    1.50 → 1.15 s)."""
    fps = truncate_lineage(fps)
    occ = fps.groupBy("fp", "chunk_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    return (
        fps.join(occ, ["fp", "chunk_len"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("n_chars"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("chunk_len")).otherwise(0))
            .cast("bigint")
            .alias("dup_chars"),
        )
    )


def _cdc_explode_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 row-per-character explode/window form — kept as the
    oracle-mirrorable twin of the registered Arrow gear pass (its plan is
    literally the DuckDB oracle's; pytest pins equality between the two)."""
    docs = load_table(spark, sf_dir, "documents")
    # n_chars >= 1 guard: Spark's sequence(1, 0) auto-steps DOWN and
    # yields [1, 0] where DuckDB's range(1, 1) is empty — without the
    # filter an n_chars = 0 doc fabricates two phantom characters
    # (latent r6 divergence caught by the round-7 edge-contract test)
    chars = spread(docs.filter(F.col("n_chars") >= 1), "doc_id").select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_chars"))).alias("i"),
        "text",
    ).select(
        "doc_id", "i", F.ascii(F.expr("substr(text, CAST(i AS INT), 1)")).alias("code")
    )
    w_roll = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_CDC_WIN - 1), Window.currentRow)
    )
    rolled = chars.select(
        "doc_id",
        "i",
        "code",
        F.when(
            (F.col("i") >= _CDC_WIN)
            & (F.sum("code").over(w_roll) % _CDC_MOD == 0),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    chunked = rolled.select(
        "doc_id",
        "i",
        "code",
        F.coalesce(F.sum("boundary").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("chunk_id"),
    )
    w_lp = Window.partitionBy("doc_id", "chunk_id").orderBy("i")
    with_lp = chunked.select(
        "doc_id", "chunk_id", "code", F.row_number().over(w_lp).alias("lp")
    )
    fps = with_lp.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("chunk_len"),
        (F.sum(F.col("code") * F.col("lp")) % _CDC_FP_MOD)
        .cast("bigint")
        .alias("fp"),
    )
    return _cdc_dedup_tail(fps)


# ---------------------------------------------------------------------------
# Soundex phonetic blocking: the redundant blocking key fuzzy_name_pairs'
# own scale note calls for.
# ---------------------------------------------------------------------------

# US-Census soundex as a DuckDB expression chain over an UPPERCASE token:
# H/W deleted after the first letter (transparency: same-code letters
# AROUND them collapse), 26-letter code map with vowels/H/W as '0'
# (vowels BREAK adjacency because distinct 0-runs separate the codes),
# adjacent duplicates collapsed INCLUDING across the first letter
# (Pfister -> P236), then zeros dropped and the digits padded to 3.
_SOUNDEX_MAP = "01230120022455012623010202"


def _soundex_sql(tok: str) -> str:
    u = f"UPPER({tok})"
    t1 = f"substr({u}, 1, 1) || translate(substr({u}, 2), 'HW', '')"
    cs = f"translate({t1}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_MAP}')"
    col = f"regexp_replace({cs}, '(.)\\1+', '\\1', 'g')"
    dig = f"regexp_replace(substr({col}, 2), '0', '', 'g')"
    return f"substr({u}, 1, 1) || substr({dig} || '000', 1, 3)"


@register(
    "soundex_phonetic_blocking",
    oracle=f"""
        WITH names AS (
            SELECT DISTINCT p_name,
                   string_split(p_name, ' ')[-1] AS head
            FROM part
        ),
        keyed AS (
            SELECT p_name, head,
                   {_soundex_sql('head')} AS block_code
            FROM names
        )
        SELECT a.block_code,
               a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
                   AS edit_distance,
               CASE WHEN a.head != b.head THEN 1 ELSE 0 END
                   AS exact_block_miss
        FROM keyed a
        JOIN keyed b
          ON a.block_code = b.block_code AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc=(
        "SOUNDEX PHONETIC BLOCKING for name linkage — the redundant "
        "blocking key fuzzy_name_pairs' own 100 TB note prescribes "
        "('at 100 TB use 2-3 redundant blocking keys (first token, "
        "length band, phonetic)'): distinct names block on the US-"
        "Census SOUNDEX of the trailing head noun instead of the "
        "exact token, so spelling variants of the SAME sound "
        "('smith'/'smyth' class) land in one block and pay the "
        "Levenshtein verify that exact-token blocking never schedules "
        "— exact_block_miss = 1 marks exactly those recovered pairs "
        "(the recall the phonetic key buys; pairs with equal heads "
        "replicate the exact block and calibrate the overlap). Spark "
        "side uses the JVM soundex builtin; the oracle re-derives the "
        "FULL Census algorithm as a translate/regexp chain (H/W "
        "transparency via deletion after the first letter, vowels "
        "breaking adjacency as distinct 0-runs, first-letter code "
        "collapse, zero-drop + 3-pad) — pinned equal to Spark's "
        "builtin over the entire fixture token vocabulary in tests, "
        "and the domain is restricted to lowercase-alpha tokens so "
        "non-letter edge semantics never diverge. Plan: DISTINCT "
        "names first (|names| << |rows|), equi-join on the phonetic "
        "key, quadratic work only within blocks — the fuzzy_name_"
        "pairs shape with a different, deliberately coarser key."
    ),
    tags=("dedup", "linkage", "blocking", "text"),
)
def soundex_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct().select(
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("head"),
    )
    keyed = names.select(
        "p_name", "head", F.soundex("head").alias("block_code")
    )
    a = keyed.select(
        F.col("block_code"),
        F.col("p_name").alias("name_a"),
        F.col("head").alias("head_a"),
    )
    b = keyed.select(
        F.col("block_code").alias("bc_b"),
        F.col("p_name").alias("name_b"),
        F.col("head").alias("head_b"),
    )
    pairs = a.join(
        b,
        (F.col("block_code") == F.col("bc_b"))
        & (F.col("name_a") < F.col("name_b")),
    )
    return pairs.select(
        "block_code",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias(
            "edit_distance"
        ),
        F.when(F.col("head_a") != F.col("head_b"), 1)
        .otherwise(0)
        .alias("exact_block_miss"),
    ).filter(F.col("edit_distance") <= 4)
