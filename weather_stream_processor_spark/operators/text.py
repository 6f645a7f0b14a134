"""Text analysis operators (driver mandate: LLM-data-pipeline text).

Token counting, term frequencies, TF-IDF, quality scoring, language-ID
heuristics, and document fingerprinting — all as Column expressions over
the `documents` table. No UDFs anywhere: tokenization is `split`, set ops
are array HOFs, and the fingerprint uses portable integer arithmetic so
the DuckDB oracle computes bit-identical values.

Scale shape: everything is either per-row projection (embarrassingly
parallel) or one explode + one hash aggregation; the only global state is
the document count / document frequencies in TF-IDF, which are tiny
aggregates broadcast back into the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weather_stream_processor_spark.functions import tokens
from weather_stream_processor_spark.registry import register
from weather_stream_processor_spark.sources import load_table, spread

STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "token_counts",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
               n_chars,
               ROUND(n_chars * 1.0 / len(string_split(text, ' ')), 6) AS chars_per_token
        FROM documents
    """,
    doc=(
        "Token counting per document: total + unique whitespace tokens, "
        "chars-per-token. Pure projection — no shuffle at any scale."
    ),
    tags=("text", "llm"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        "n_chars",
        F.round(F.col("n_chars") / F.size(toks), 6).alias("chars_per_token"),
    )


@register(
    "term_frequency_top20",
    oracle="""
        SELECT tok AS term, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
        ORDER BY n DESC, term
        LIMIT 20
    """,
    doc=(
        "Corpus term frequencies, top 20 (count tie-broken on the term). "
        "explode -> hash agg; map-side partial aggregation keeps the "
        "shuffle at |vocabulary| not |tokens|."
    ),
    tags=("text", "llm"),
)
def term_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


@register(
    "tfidf_top_term_per_doc",
    oracle="""
        WITH tf AS (
            SELECT doc_id, tok AS term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY doc_id, tok
        ),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) DESC, tf.term
                   ) AS rn
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf FROM scored WHERE rn = 1
    """,
    doc=(
        "TF-IDF (tf * ln(N/df)) with the most characteristic term per "
        "document. df and N are small aggregates joined back broadcast; "
        "score rounded to 6dp before the per-doc argmax so ranking is "
        "engine-stable."
    ),
    tags=("text", "llm", "headline"),
)
def tfidf_top_term_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf rows are already distinct (doc_id, term) pairs, so document
    # frequency is a plain count — no distinct aggregation needed; the tf
    # aggregate below it is an identical subtree on both sides of the join,
    # which ReuseExchange computes once
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar; embedded as a literal in the plan
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "quality_scores",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, lang, n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> list_contains({list(STOPWORDS)}, t)))
                        AS BIGINT) AS n_stopwords,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique
            FROM documents
        )
        SELECT doc_id, lang, n_tokens,
               ROUND(n_stopwords * 1.0 / n_tokens, 6) AS stopword_ratio,
               ROUND(n_unique * 1.0 / n_tokens, 6) AS unique_ratio,
               ROUND(LEAST(n_tokens / 50.0, 1.0) * 0.4
                     + (n_stopwords * 1.0 / n_tokens) * 0.3
                     + (n_unique * 1.0 / n_tokens) * 0.3, 6) AS quality_score
        FROM feats
    """,
    doc=(
        "Heuristic document quality score: length saturation, stopword "
        "ratio (fluency proxy), unique-token ratio (repetition penalty) — "
        "the standard pre-training corpus filter features, as one "
        "projection pass."
    ),
    tags=("text", "llm", "headline"),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .cast("bigint")
        .alias("n_stopwords"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
    )
    stop_ratio = F.col("n_stopwords") / F.col("n_tokens")
    uniq_ratio = F.col("n_unique") / F.col("n_tokens")
    return feats.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(
            F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.4
            + stop_ratio * 0.3
            + uniq_ratio * 0.3,
            6,
        ).alias("quality_score"),
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
        SELECT lang,
               CASE
                 WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN len(list_filter(string_split(text, ' '),
                                      t -> list_contains({list(STOPWORDS)}, t)))
                      * 1.0 / len(string_split(text, ' ')) >= 0.05 THEN 'en'
                 ELSE 'unknown'
               END AS predicted_lang,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """,
    doc=(
        "Language-ID heuristic: CJK-codepoint detection, then English "
        "stopword density, else unknown — a cheap n-gram-style classifier "
        "as pure regex/array expressions. (The fixture text is synthetic "
        "English word-soup with random lang labels, so the *accuracy* is "
        "meaningless by construction — the oracle checks the classifier's "
        "determinism and plumbing, which is what transfers to a real "
        "fastText-style scorer via pandas_udf.)"
    ),
    tags=("text", "llm"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_density = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)
    predicted = (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(stop_density >= 0.05, "en")
        .otherwise("unknown")
    )
    return (
        docs.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "doc_fingerprints",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        )
        SELECT doc_id,
               CAST(SUM((ascii(tok) * 31 + length(tok)) * pos) % 1000000007
                    AS BIGINT) AS fingerprint
        FROM toks
        GROUP BY doc_id
    """,
    doc=(
        "Order-sensitive document fingerprint: position-weighted polynomial "
        "over per-token codes, mod 1e9+7. Deliberately built from portable "
        "integer ops (ascii/length/position) rather than an engine hash so "
        "the oracle verifies bit-identical values; swap the token code for "
        "xxhash64 in production for better dispersion (same plan shape: "
        "posexplode -> one hash aggregation)."
    ),
    tags=("text", "llm", "fingerprint"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
    )
    code = (F.ascii("tok") * 31 + F.length("tok")).cast("bigint") * (F.col("pos0") + 1)
    return exploded.groupBy("doc_id").agg((F.sum(code) % 1000000007).alias("fingerprint"))


# GPT-2-style pretokenizer, restricted to ASCII classes both Java regex
# (Spark) and RE2 (DuckDB) interpret identically: a token is an optional
# leading space + a letter run, digit run, or punctuation run.
BPE_PRETOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "bpe_token_counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               ROUND(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}'))
                     * 1.0 / len(string_split(text, ' ')), 6) AS bpe_per_word
        FROM documents
    """,
    doc=(
        "BPE-ish token counting (mandate: 'whitespace + a BPE-ish regex'): "
        "a GPT-2-style pretokenizer regex (space-prefixed letter/digit/"
        "punctuation runs) next to the whitespace count, plus the "
        "tokens-per-word fertility ratio used for corpus budgeting. Pure "
        "projection — regexp_extract_all is codegen'd; no shuffle at any "
        "scale. A real BPE vocab merge step would follow as a pandas_udf "
        "over these pretokens."
    ),
    tags=("text", "llm", "tokenizer"),
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0)
    ws = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.round(F.size(bpe) / F.size(ws), 6).alias("bpe_per_word"),
    )


@register(
    "pii_scrub",
    oracle="""
        WITH augmented AS (
            -- synthesize a contact block so the scrub has real matches
            -- (the fixture corpus is clean word-soup by construction)
            SELECT doc_id,
                   text || ' contact: user' || doc_id ||
                   '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
            FROM documents WHERE doc_id < 200
        )
        SELECT doc_id,
               len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+')) AS n_emails,
               len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS n_phones,
               ROUND(len(raw) * 1.0, 1) AS raw_len,
               md5(regexp_replace(regexp_replace(raw,
                       '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
        FROM augmented
    """,
    doc=(
        "PII SCRUB: regex masking of emails/phone patterns with "
        "per-document match accounting (regexp_count) — the redaction "
        "pass a training corpus runs before packing. Pure codegen'd "
        "string expressions, map-side only, zero shuffles; the scrubbed "
        "text is md5'd for the cross-engine check so the oracle verifies "
        "byte-identical redaction output, not just counts. Patterns kept "
        "to the regex subset Java and RE2 dialects share; a production "
        "scrubber swaps in a curated pattern table (broadcast) and/or an "
        "NER pandas_udf for names — same plumbing."
    ),
    tags=("text", "llm", "pii"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email = "[a-z0-9._]+@[a-z0-9.]+"
    phone = "[0-9]{3}-[0-9]{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(email)).alias("n_emails"),
        F.regexp_count(raw, F.lit(phone)).alias("n_phones"),
        F.round(F.length(raw) * 1.0, 1).alias("raw_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register(
    "repetition_quality_filter",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        g AS (
            SELECT doc_id,
                   [array_to_string(t[i:i+2], ' ')
                    FOR i IN range(1, len(t) - 1)] AS grams
            FROM toks
        )
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
               ROUND(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
                   AS rep_fraction,
               (1.0 - len(list_distinct(grams)) * 1.0 / len(grams)) <= 0.2
                   AS keep
        FROM g
    """,
    doc=(
        "Within-document REPETITION filter (the Gopher-rules family): the "
        "fraction of word 3-grams that are repeats of an earlier 3-gram in "
        "the same document; docs above 20% repetition are flagged for "
        "drop. Boilerplate, spam and degenerate generations score high "
        "while natural prose stays near zero. Entirely per-row array "
        "expressions (no explode, no shuffle, no UDF) — the cheapest "
        "quality gate in the stack, run it before anything pairwise."
    ),
    tags=("text", "llm", "quality"),
)
def repetition_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(tokens(F.col("text")))
    n_grams = F.size(grams).cast("bigint")
    n_distinct = F.size(F.array_distinct(grams)).cast("bigint")
    rep = 1.0 - n_distinct / n_grams
    return docs.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
        F.round(rep, 6).alias("rep_fraction"),
        (rep <= 0.2).alias("keep"),
    )


@register(
    "gopher_quality_rules",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   string_split(text, ' ') AS t,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   ROUND((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                         / len(string_split(text, ' ')), 6) AS mean_word_len
            FROM documents
        )
        SELECT doc_id, n_words, mean_word_len,
               CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
                   AS stopword_hits,
               (n_words BETWEEN 30 AND 500
                AND mean_word_len BETWEEN 2.0 AND 8.0
                AND len(list_filter(t, x -> x IN ('the','a','of','and','to','in'))) >= 1)
                   AS keep
        FROM m
    """,
    doc=(
        "Gopher-style document quality rules (Rae et al. 2021 §A1.1, "
        "adapted to this corpus): word-count bounds, mean word length "
        "bounds, and a minimum stop-word hit count, combined into a "
        "boolean keep flag. Mean word length is computed arithmetically "
        "from (n_chars - n_words + 1) / n_words — exact for a "
        "single-space-joined corpus and cheaper than a second array "
        "traversal. Pure per-row Column expressions: zero shuffle, "
        "whole-stage codegen end to end, embarrassingly parallel at any "
        "scale. The real-corpus additions (symbol ratio, bullet ratio, "
        "alpha-word fraction) are the same expression shape over the "
        "same token array."
    ),
    tags=("text", "llm", "quality"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("bigint")
    mean_word_len = F.round(
        (F.length("text") - n_words + 1) / n_words, 6
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    ).cast("bigint")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        stop_hits.alias("stopword_hits"),
        (
            n_words.between(30, 500)
            & mean_word_len.between(2.0, 8.0)
            & (stop_hits >= 1)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Retrieval surface: inverted index, boolean search, BM25, collocations.
# The reference has no search operators (SURVEY §2.3: its aggregation surface
# is one SUM); these extend the mandated text-analysis group (SURVEY §2.6)
# with the index-shaped operators an LLM-data pipeline uses to slice and
# inspect a corpus at scale.
# ---------------------------------------------------------------------------

# BM25 free parameters (standard Robertson defaults).
# Adjacent-token bigram array, formed per-row (zero shuffle, no self-join).
# sequence(a, b) runs DESCENDING when b < a, so the one-token doc is guarded
# to an empty array (DuckDB's range(1, 1) is empty already).
_BIGRAM_EXPR = (
    "case when size(split(text, ' ')) >= 2 then"
    " transform(sequence(0, size(split(text, ' ')) - 2),"
    " i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1]))"
    " else array() end"
)

_BM25_K1 = 1.2
_BM25_B = 0.75
# Fixed query for the registered entry — real usage parameterizes this; a
# constant keeps the oracle deterministic.
_BM25_TERMS = ("spark", "join", "window")


@register(
    "inverted_index_postings",
    oracle="""
        WITH post AS (
            SELECT DISTINCT tok AS term, doc_id
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
        )
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(
                   list_transform(
                       list_slice(list_sort(array_agg(doc_id)), 1, 20),
                       x -> CAST(x AS VARCHAR)),
                   ',') AS postings_head
        FROM post
        GROUP BY term
        HAVING COUNT(*) >= 5
    """,
    doc=(
        "Inverted-index build: term -> document-frequency + the first 20 "
        "doc ids of the (sorted) posting list, for terms with df >= 5. "
        "explode -> distinct -> hash agg, shuffled by term, so the work is "
        "bounded by |postings| and the output by |vocabulary|; the head cap "
        "keeps rows bounded even for stopword-frequency terms. At 100 TB "
        "the posting lists themselves shard by (term, block_id) instead of "
        "collect_list-ing into one row — same plan up to the final agg."
    ),
    tags=("text", "retrieval", "llm"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    return (
        post.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20).cast(
                    "array<string>"
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


@register(
    "boolean_and_search",
    oracle="""
        SELECT doc_id
        FROM (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok IN ('spark', 'vector')
        )
        GROUP BY doc_id
        HAVING COUNT(*) = 2
    """,
    doc=(
        "Boolean AND retrieval (docs containing BOTH query terms) as a "
        "posting-list intersection: filter the exploded postings to the "
        "query terms FIRST (so only matching postings shuffle), then a "
        "count-per-doc equals-arity check — the set-intersection idiom "
        "that avoids a self-join. Work is O(sum of query-term posting "
        "lists), never O(corpus); the term filter pushes into the scan "
        "side of the explode."
    ),
    tags=("text", "retrieval", "llm"),
)
def boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hits = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin("spark", "vector"))
        .distinct()
    )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("k")).filter(
        F.col("k") == 2
    ).select("doc_id")


_BM25_ORACLE = f"""
        WITH tf AS (
            SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ),
        dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl.dl) AS avgdl
            FROM dl
        ),
        idf AS (
            SELECT term, ln((s.n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0) AS idf
            FROM tf, stats s
            WHERE term IN ('spark', 'join', 'window')
            GROUP BY term, s.n_docs
        )
        SELECT tf.doc_id,
               ROUND(SUM(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
                     / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                        + {_BM25_B} * dl.dl / s.avgdl))), 6) AS bm25
        FROM tf
        JOIN idf USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 20
"""


@register(
    "bm25_top_docs",
    oracle=_BM25_ORACLE,
    doc=(
        "BM25 ranking of the corpus for a fixed 3-term query, top 20 "
        "(score desc, doc_id tie-break). Classic two-stat scheme: per-"
        "(doc, term) TF from one explode+agg; DF -> IDF for ONLY the query "
        "terms (a |query|-row table, broadcast); doc length + corpus avgdl "
        "(scalar, broadcast). The scoring join therefore touches only "
        "postings of query terms — O(matching postings), not O(corpus) — "
        "and the global top-k is TakeOrderedAndProject, no full sort. "
        "Scores rounded to 6dp on both engines so float summation-order "
        "drift cannot flip the hash."
    ),
    tags=("text", "retrieval", "llm"),
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = (
        tf.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "bigram_pmi_collocations",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        big AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks
        ),
        uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens
              FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        bc AS (
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM big GROUP BY bigram HAVING COUNT(*) >= 10
        )
        SELECT bc.bigram, bc.c_xy,
               ROUND(ln(bc.c_xy * 1.0 * n.n_tokens / (ux.c * 1.0 * uy.c)), 6) AS pmi
        FROM bc
        JOIN uni ux ON ux.tok = string_split(bc.bigram, ' ')[1]
        JOIN uni uy ON uy.tok = string_split(bc.bigram, ' ')[2]
        CROSS JOIN n
        ORDER BY pmi DESC, bigram ASC
        LIMIT 30
    """,
    doc=(
        "Pointwise-mutual-information collocations: adjacent-token bigrams "
        "(formed per-row by an array transform — zero shuffle, no "
        "self-join), counted, then PMI = ln(c_xy * N / (c_x * c_y)) via "
        "two broadcast joins against the unigram table (|vocabulary|-"
        "sized). min-support 10 gates noise; top 30 by PMI with bigram "
        "tie-break is TakeOrderedAndProject. The shuffles are bounded by "
        "|bigram vocabulary|, never token count — the standard collocation "
        "/ multi-word-expression miner over a training corpus."
    ),
    tags=("text", "llm", "stats"),
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bigrams = docs.select(F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
    uni = (
        docs.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = docs.select(F.explode(t).alias("tok")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    bc = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 10)
    )
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    parts = bc.withColumn("x", F.split("bigram", " ")[0]).withColumn(
        "y", F.split("bigram", " ")[1]
    )
    return (
        parts.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "bigram",
            "c_xy",
            F.round(
                F.log(F.col("c_xy") * F.col("n_tokens") / (F.col("cx") * F.col("cy"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(30)
    )


@register(
    "bigram_lm_perplexity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        doc_bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks
        ),
        bic AS (
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM doc_bi GROUP BY bigram
        ),
        uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni)
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(ln((bic.c_xy + 1.0) / (uni.c + v.v))), 6) AS avg_logprob
        FROM doc_bi d
        JOIN bic USING (bigram)
        JOIN uni ON uni.tok = string_split(d.bigram, ' ')[1]
        CROSS JOIN v
        GROUP BY d.doc_id
    """,
    doc=(
        "Perplexity-style quality scoring with a corpus-trained bigram "
        "language model (add-1 smoothing): every doc gets the mean log "
        "P(w2|w1) of its bigrams under counts estimated from the whole "
        "corpus -- the CCNet/KenLM-shaped filter that flags gibberish and "
        "boilerplate as out-of-model (very negative) without any external "
        "model artifact. Train and score are the same two hash "
        "aggregations: bigram counts and unigram counts, both bounded by "
        "vocabulary, joined back to the per-doc bigram table on the "
        "bigram key. The corpus is exploded ONCE per n-gram order: the "
        "per-(doc, bigram) multiplicity table is aggregated first, the "
        "global bigram counts derive from it without a second explode "
        "(partial aggregation upstream of one exchange), and scoring "
        "joins the multiplicity table — distinct bigrams per doc, not "
        "every instance — with the per-doc mean weighted by multiplicity "
        "(identical arithmetic, fewer join rows). At 100 TB train on a "
        "sampled slice and broadcast only query-relevant counts; the "
        "plan shape is unchanged. Scores rounded to 6dp in both engines "
        "so summation order cannot flip the hash."
    ),
    tags=("text", "llm", "quality"),
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one explode pass: per-(doc, bigram) multiplicity k; the global
    # bigram counts derive from it (sum of k) so the corpus is never
    # re-exploded, and the scoring join carries distinct bigrams per doc
    # spread both explode subtrees: a single-file scan is ONE task, and
    # the bigram/unigram explode + partial aggregation is the dominant
    # CPU of this query — measured r11 (stage profile): 2 single-task
    # stages of ~4.2s wall each vs ~0.25s once hash-partitioned to the
    # session parallelism (guide §2.5: fix input under-parallelism at
    # the source)
    # r12 (guide §2.3 — narrower types through the exchanges): neither the
    # bigram nor the unigram STRING is ever emitted — every downstream use
    # is equality (group keys, the two scoring joins) — so both are
    # xxhash64'd once at explode time and all exchanges/joins carry longs
    # instead of ~12-25-char strings (the repo-accepted internal-key
    # class, ~|vocab|^2/2^64 collision odds; the shared oracle hash-checks
    # the scores every round). A/B min-of-3 at sf0.1: 1.43 → 1.29 s,
    # outputs identical row-for-row.
    db = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
        .select(
            "doc_id",
            F.xxhash64("bigram").alias("hxy"),
            F.xxhash64(F.split("bigram", " ")[0]).alias("hx"),
        )
        .groupBy("doc_id", "hxy", "hx")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    bic = db.groupBy("hxy").agg(F.sum("k").alias("c_xy"))
    uni = (
        spread(docs, "doc_id")
        .select(F.explode(tokens(F.col("text"))).alias("x"))
        .select(F.xxhash64("x").alias("hx"))
        .groupBy("hx")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        db.join(bic, "hxy")
        .join(uni, "hx")
        .crossJoin(F.broadcast(v))
        .withColumn("logp", F.log((F.col("c_xy") + 1.0) / (F.col("c") + F.col("v"))))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.round(F.sum(F.col("k") * F.col("logp")) / F.sum("k"), 6).alias(
            "avg_logprob"
        ),
    )


@register(
    "zipf_law_fit",
    oracle="""
        WITH freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
            FROM freq
        ),
        top AS (SELECT * FROM ranked WHERE r <= 200)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND(regr_slope(ln(c), ln(r)), 6) AS zipf_slope,
               ROUND(regr_intercept(ln(c), ln(r)), 6) AS zipf_intercept,
               ROUND(regr_r2(ln(c), ln(r)), 6) AS fit_r2
        FROM top
    """,
    doc=(
        "Zipf's-law fit over the corpus vocabulary: regress ln(frequency) "
        "on ln(rank) for the top 200 terms -- natural text sits near "
        "slope -1, and a corpus whose slope drifts far from it (template "
        "spam: too flat; boilerplate-dominated: too steep) fails the "
        "distributional sanity screen before training. The frequency "
        "table is vocabulary-bounded; the global top-200 is "
        "TakeOrderedAndProject with term tie-breaks (per-partition heaps, "
        "no vocab-wide sort), and the regression is a one-pass mergeable "
        "regr_* aggregate over 200 points."
    ),
    tags=("text", "llm", "stats"),
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = freq.orderBy(F.desc("c"), F.asc("tok")).limit(200)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    )
    y, x = F.log("c"), F.log("r")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("fit_r2"),
    )


@register(
    "dataset_datasheet",
    oracle="""
        WITH tok AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tok
            FROM documents
        ),
        vocab AS (
            SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        ),
        hashes AS (
            SELECT COUNT(DISTINCT sha256(text)) AS uniq, COUNT(*) AS total
            FROM documents
        )
        SELECT metric, ROUND(value, 6) AS value FROM (
            SELECT 'n_docs' AS metric, (SELECT COUNT(*) FROM documents) * 1.0 AS value
            UNION ALL
            SELECT 'n_tokens', (SELECT SUM(n_tok) FROM tok) * 1.0
            UNION ALL
            SELECT 'vocab_size', (SELECT v FROM vocab) * 1.0
            UNION ALL
            SELECT 'mean_doc_tokens',
                   (SELECT SUM(n_tok) * 1.0 / COUNT(*) FROM tok)
            UNION ALL
            SELECT 'n_langs', (SELECT COUNT(DISTINCT lang) FROM documents) * 1.0
            UNION ALL
            SELECT 'n_sources', (SELECT COUNT(DISTINCT source) FROM documents) * 1.0
            UNION ALL
            SELECT 'exact_dup_ratio',
                   (SELECT (total - uniq) * 1.0 / total FROM hashes)
        ) t
    """,
    doc=(
        "Dataset datasheet -- the one-page summary artifact every "
        "published training corpus ships (docs, tokens, vocabulary, "
        "length, language/source breadth, exact-duplicate ratio) in "
        "long (metric, value) format so downstream tooling diffs "
        "datasheets across corpus versions mechanically (pairs with "
        "corpus_snapshot_diff). Each metric is a tiny mergeable "
        "aggregate; the union of one-row frames costs nothing next to "
        "the two scans (token explode, digest pass) that feed them. "
        "At 100 TB: compute once per snapshot, store beside the data."
    ),
    tags=("text", "llm", "profiling"),
)
def dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = docs.select(F.size(tokens(F.col("text"))).alias("n_tok"))
    tok_stats = n_tok.agg(
        F.sum("n_tok").alias("n_tokens"), F.avg("n_tok").alias("mean_tok")
    )
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    hashes = docs.agg(
        F.countDistinct(F.sha2("text", 256)).alias("uniq"),
        F.count(F.lit(1)).alias("total"),
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    row = (
        base.crossJoin(tok_stats)
        .crossJoin(vocab)
        .crossJoin(hashes)
    )
    stacked = row.select(
        F.expr(
            "stack(7,"
            " 'n_docs', cast(n_docs as double),"
            " 'n_tokens', cast(n_tokens as double),"
            " 'vocab_size', cast(v as double),"
            " 'mean_doc_tokens', mean_tok,"
            " 'n_langs', cast(n_langs as double),"
            " 'n_sources', cast(n_sources as double),"
            " 'exact_dup_ratio', cast(total - uniq as double) / total"
            ") AS (metric, value)"
        )
    )
    return stacked.select("metric", F.round("value", 6).alias("value"))


# --- BPE vocabulary induction (tokenizer training, the missing half of
# bpe_token_counts' fertility analysis) ---------------------------------------

BPE_MERGES = 10


def _bpe_word_table(docs: DataFrame) -> DataFrame:
    """(symbols: array<string>, weight) — the classic BPE reduction: all
    corpus-side work collapses into ONE hash aggregation over lowercased
    alphabetic words; every merge round after it runs on this
    vocabulary-bounded table, never the corpus."""
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda w: F.length(w) >= 2
            )
        ).alias("word")
    )
    wt = words.groupBy("word").agg(F.count(F.lit(1)).alias("weight"))
    # (?!^)(?!$): split between every character but not at the string
    # edges — Spark's split keeps trailing empty strings (limit -1), so a
    # bare (?!^) would append a phantom "" symbol to every word
    return wt.select(F.split("word", r"(?!^)(?!$)").alias("symbols"), "weight")


def _adjacent_pairs(symbols):
    n = F.size(symbols)
    return F.arrays_zip(
        F.slice(symbols, 1, n - 1).alias("l"),
        F.slice(symbols, 2, n - 1).alias("r"),
    )


def _apply_merge(symbols, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left,right) -> left+right,
    as a pure fold (F.aggregate) — no UDF. CaseWhen branches evaluate
    lazily per element, so the slice on the merge branch never sees an
    empty accumulator."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@register(
    "bpe_merge_induction",
    oracle=None,  # iterative fixed-point over a vocab table; not SQL-
    # expressible in one statement. Exactness is gated by
    # tests/test_round4_ops.py::test_bpe_merges_match_reference_python,
    # which replays Sennrich-style BPE in pure Python on the same corpus
    # and asserts the merge sequence is IDENTICAL.
    doc=(
        "BPE tokenizer-vocabulary induction (the 'real BPE vocab merge "
        "step' bpe_token_counts points at), Spark-first: the corpus "
        "collapses into a vocabulary-bounded (word, weight) table with "
        "ONE hash aggregation, and each of the BPE_MERGES rounds runs "
        "entirely on that table — adjacent-pair explode weighted by word "
        "frequency, a pair-count aggregation, a 1-ROW driver collect of "
        "the argmax pair (tie-break: count desc, then pair asc, fully "
        "deterministic), then an in-plan greedy fold (F.aggregate) that "
        "rewrites each word's symbol array. No UDF anywhere; the only "
        "driver data is one (pair,count) row per round. 100 TB posture: "
        "corpus cost is the single word-count shuffle (same class as "
        "term_frequency); rounds cost O(|vocab|) each, independent of "
        "corpus size, and the per-round lineage is cut so the plan stays "
        "flat. Output = the ordered merge table a tokenizer trainer "
        "ships (rank, left, right, merged, pair_count)."
    ),
    tags=("text", "llm", "tokenizer"),
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    wt = truncate_lineage(_bpe_word_table(docs))
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = wt.select(
            F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"), "weight"
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("weight").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0].pair_count < 2:
            break
        best = top[0]
        merges.append((rank, best.l, best.r, best.l + best.r, best.pair_count))
        wt = truncate_lineage(
            wt.select(
                _apply_merge(F.col("symbols"), best.l, best.r).alias("symbols"),
                "weight",
            )
        )
    return docs.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


_TOKEN_ENTROPY_STMT = """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ),
        n AS (
            SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types
            FROM tf GROUP BY 1
        )
        SELECT tf.doc_id,
               CAST(n.n_tokens AS BIGINT) AS n_tokens,
               CAST(n.n_types AS BIGINT) AS n_types,
               ROUND(-SUM((tf.c * 1.0 / n.n_tokens)
                          * ln(tf.c * 1.0 / n.n_tokens)), 6) AS entropy,
               ROUND(n.n_types * 1.0 / n.n_tokens, 6) AS type_token_ratio
        FROM tf JOIN n USING (doc_id)
        GROUP BY tf.doc_id, n.n_tokens, n.n_types
"""


@register(
    "token_entropy_quality",
    oracle=_TOKEN_ENTROPY_STMT,
    doc=(
        "TOKEN-ENTROPY QUALITY SIGNAL: per-document Shannon entropy of "
        "the unigram distribution plus type/token ratio — low entropy "
        "flags boilerplate/keyword-stuffed/repetitive pages that "
        "length-based filters miss (complements repetition_quality_filter's "
        "n-gram repeat ratios and gopher_quality_rules' shape checks). "
        "Whitespace tokenization matches the module's other operators "
        "(split on ' ' both engines). Plan: explode -> (doc, token) hash "
        "count -> per-doc totals join -> one entropy aggregate; every "
        "shuffle is keyed on doc_id-derived keys so the explode never "
        "concentrates. -p*ln(p) terms are O(1) magnitude and summed "
        "per-doc over at most |doc types| terms; rounded(6) on both "
        "sides against engine-order float drift. At 100 TB this is the "
        "same two-aggregate shape as tfidf — linear scan, no global "
        "structure."
    ),
    tags=("text", "quality", "aggregation"),
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c") / F.col("n_tokens")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n_tokens", "n_types")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "entropy",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
        )
    )


_RRF_C = 60  # the standard reciprocal-rank-fusion constant


def _rrf_oracle() -> str:
    from weather_stream_processor_spark.operators.similarity import (
        _COSINE_ORACLE_CTE,
    )

    cosine_stmt = _COSINE_ORACLE_CTE.format(n_queries=1) + (
        "SELECT vec_id, cosine_sim, rn FROM sims WHERE rn <= 10"
    )
    return f"""
        WITH lex AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
            FROM ({_BM25_ORACLE})
        ),
        sem AS (
            SELECT vec_id AS doc_id, rn AS r
            FROM ({cosine_stmt})
        ),
        u AS (
            SELECT doc_id, 1.0 / ({_RRF_C} + r) AS s FROM lex
            UNION ALL
            SELECT doc_id, 1.0 / ({_RRF_C} + r) AS s FROM sem
        )
        SELECT doc_id, ROUND(SUM(s), 6) AS rrf,
               CAST(COUNT(*) AS BIGINT) AS n_arms
        FROM u GROUP BY doc_id
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """


@register(
    "hybrid_rrf_fusion",
    oracle=_rrf_oracle(),
    doc=(
        "HYBRID RETRIEVAL via reciprocal-rank fusion: the BM25 lexical "
        "top-20 and the exact-cosine semantic top-10 (query vector 0; the "
        "fixture corpora are id-aligned, doc_id == vec_id, as "
        "multimodal_doc_vector_join also relies on) fused by "
        "score = sum over arms of 1/(60 + rank) — the standard RRF "
        "formula, robust to incomparable score scales, which is exactly "
        "why production search fuses arms on RANKS not scores. Both arms "
        "reuse the registered rankers' builders AND their oracle SQL "
        "verbatim (composed as derived tables), so the fusion cannot "
        "drift from its parts. Ranks are integers, so the fused score is "
        "the same exact expression in both engines. At 100 TB each arm "
        "is already top-k (tiny), so the fusion itself is a "
        "constant-size union-aggregate — the scale cost lives in the "
        "arms, measured separately."
    ),
    tags=("text", "retrieval", "llm", "similarity"),
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from weather_stream_processor_spark.operators.similarity import (
        cosine_topk_exact,
    )

    lex = bm25_top_docs(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r"),
    )
    sem = cosine_topk_exact(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("rn").alias("r")
    )
    s = F.lit(1.0) / (F.lit(_RRF_C) + F.col("r"))
    u = lex.select("doc_id", s.alias("s")).unionAll(
        sem.select("doc_id", s.alias("s"))
    )
    return (
        u.groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 6).alias("rrf"),
            F.count(F.lit(1)).alias("n_arms"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


_RAKE_TOPK = 20


def _rake_oracle() -> str:
    stop_list = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ),
        cand AS (
            SELECT doc_id, tok, pos,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS isl
            FROM toks
            WHERE NOT list_contains({stop_list}, tok)
        ),
        phr AS (
            SELECT doc_id, isl,
                   string_agg(tok, ' ' ORDER BY pos) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM cand GROUP BY doc_id, isl
        ),
        ws AS (
            SELECT c.tok,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(p.plen) AS BIGINT) AS deg
            FROM cand c JOIN phr p USING (doc_id, isl)
            GROUP BY c.tok
        ),
        scored AS (
            SELECT p.phrase,
                   ROUND(SUM(w.deg * 1.0 / w.freq), 6) AS rake_score
            FROM phr p
            JOIN cand c USING (doc_id, isl)
            JOIN ws w ON w.tok = c.tok
            GROUP BY p.doc_id, p.isl, p.phrase
        )
        SELECT phrase, rake_score,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM scored
        GROUP BY phrase, rake_score
        ORDER BY rake_score DESC, phrase
        LIMIT {_RAKE_TOPK}
    """


@register(
    "rake_keyphrases",
    oracle=_rake_oracle(),
    doc=(
        "RAKE KEYPHRASE EXTRACTION (Rose et al. 2010): candidate phrases "
        "are maximal stopword-free token runs, found with the "
        "gaps-and-islands trick (pos minus the per-doc row_number over "
        "non-stop tokens is constant within a run — one keyed window, no "
        "iteration); word scores are corpus-level degree/frequency "
        "(degree sums the lengths of every phrase containing the word), "
        "and a phrase scores the sum of its words' scores. Identical "
        "phrase text implies identical score (scores are corpus-level), "
        "so the final rollup groups by (phrase, score) and counts "
        "occurrences; top-20 fully tie-broken. Every stage is a keyed "
        "hash aggregate or broadcast join: the word-stat table is "
        "vocabulary-bounded, the islands window partitions by doc_id. At "
        "100 TB this is the same explode -> keyed-agg shape as tfidf "
        "with one extra phrase-grain aggregate; nothing global, nothing "
        "quadratic. deg/freq ratios are exact-integer divisions rounded "
        "identically in both engines."
    ),
    tags=("text", "keyphrase", "window", "llm"),
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rake_from_docs(load_table(spark, sf_dir, "documents"))


def rake_from_docs(docs: DataFrame, topk: int = _RAKE_TOPK) -> DataFrame:
    """RAKE core over any (doc_id, text) frame — split out so the property
    tests can drive it with hypothesis-drawn corpora against a pure-Python
    reference implementation."""
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    cand = toks.filter(~F.col("tok").isin(*STOPWORDS)).select(
        "doc_id",
        "tok",
        "pos",
        (F.col("pos") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("pos")
        )).alias("isl"),
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    # r11 restructure (guide §2.4: remove shuffles outright): the r10 plan
    # joined the token-grain cand table back onto phrases TWICE on
    # (doc_id, isl) — for word stats and again for scoring — i.e. two
    # token-scale shuffled joins. A phrase row can instead CARRY its own
    # ordered token array out of the islands aggregate; both consumers
    # then re-derive token occurrences by exploding the (persisted)
    # phrase table, which removes every (doc_id, isl) join from the plan.
    # Identical arithmetic: explode(toks) reproduces exactly cand's
    # (doc_id, isl, tok) occurrence multiset.
    phr = (
        cand.groupBy("doc_id", "isl")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ).alias("toks")
        )
        .select(
            "doc_id",
            "isl",
            "toks",
            F.array_join("toks", " ").alias("phrase"),
            F.size("toks").alias("plen"),
        )
    )

    def build(phr: DataFrame) -> DataFrame:
        ws = (
            phr.select(F.explode("toks").alias("tok"), "plen")
            .groupBy("tok")
            .agg(
                F.count(F.lit(1)).alias("freq"),
                F.sum("plen").alias("deg"),
            )
        )
        scored = (
            phr.select("doc_id", "isl", "phrase", F.explode("toks").alias("tok"))
            .join(F.broadcast(ws), "tok")
            .groupBy("doc_id", "isl", "phrase")
            .agg(
                F.round(F.sum(F.col("deg") / F.col("freq")), 6).alias(
                    "rake_score"
                )
            )
        )
        return (
            scored.groupBy("phrase", "rake_score")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("rake_score"), F.asc("phrase"))
            .limit(topk)
        )

    return persisted_result(phr, build)


_OOV_VOCAB_K = 1000


@register(
    "oov_rate_by_source",
    oracle=f"""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1
        ),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn
                FROM tf) WHERE rn <= {_OOV_VOCAB_K}
        )
        SELECT t.source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v USING (tok)
        GROUP BY t.source
    """,
    doc=(
        "OUT-OF-VOCABULARY RATE per source against the corpus top-"
        f"{_OOV_VOCAB_K} vocabulary — the tokenizer-coverage eval run "
        "alongside BPE fertility (bpe_token_counts): a source whose OOV "
        "rate spikes is the one that will fragment into subword soup and "
        "inflate training cost. The vocabulary is a frequency top-K with "
        "a full (count desc, token) tie-break — without it, equal-count "
        "boundary tokens make the vocab engine-dependent — and "
        "broadcasts into the token stream as a LEFT join (|V| rows). "
        "Plan: one explode feeding two hash aggregates (global TF, "
        "per-source accounting); the top-K is TakeOrdered-sized. At "
        "100 TB the explode is the only corpus-scale stage; the OOV "
        "accounting is a broadcast-join scan emitting |sources| rows."
    ),
    tags=("text", "llm", "quality", "tokenizer"),
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    from weather_stream_processor_spark.plans.caching import persisted_result

    def build(toks: DataFrame) -> DataFrame:
        tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
        vocab = (
            tf.withColumn(
                "rn",
                F.row_number().over(W.orderBy(F.desc("n"), F.asc("tok"))),
            )
            .filter(F.col("rn") <= _OOV_VOCAB_K)
            .select("tok", F.lit(True).alias("in_vocab"))
        )
        oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        return (
            toks.join(F.broadcast(vocab), "tok", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                oov.alias("n_oov"),
                F.round(oov / F.count(F.lit(1)), 6).alias("oov_rate"),
            )
        )

    return persisted_result(toks, build)


_TOKEN_BURSTINESS_STMT = """
        WITH tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ),
        m AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * c) AS BIGINT) AS s2
            FROM tf GROUP BY doc_id
        )
        SELECT doc_id, n_types, n_tokens,
               CASE WHEN n_types > 1 THEN
                   ROUND(((CAST(n_types AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(n_tokens AS DOUBLE)
                             * CAST(n_tokens AS DOUBLE))
                          / (CAST(n_types AS DOUBLE)
                             * (CAST(n_types AS DOUBLE) - 1.0)))
                         / (CAST(n_tokens AS DOUBLE)
                            / CAST(n_types AS DOUBLE)), 6)
               END AS burstiness_vmr
        FROM m
"""


@register(
    "token_burstiness",
    oracle=_TOKEN_BURSTINESS_STMT,
    doc=(
        "TOKEN BURSTINESS (variance-to-mean ratio of per-type counts) "
        "per document: a Poisson-scattered vocabulary has VMR ~ 1; "
        "keyword stuffing and copy-paste loops push it far above — the "
        "overdispersion signal that catches spam which passes entropy "
        "and repetition filters (a page can have high entropy AND one "
        "absurdly bursty term). Same (doc, token) hash-count substrate "
        "as token_entropy_quality; the variance comes from the exact "
        "integer (n*s2 - s1^2) moment identity with identical "
        "cast-to-double expressions in both engines (the CUSUM "
        "discipline), NULL for single-type docs where sample variance "
        "is undefined. At 100 TB: explode -> two doc-keyed hash "
        "aggregates, map-side partials, nothing global."
    ),
    tags=("text", "quality", "statistics", "llm"),
)
def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    nt = F.col("n_types").cast("double")
    s1 = F.col("n_tokens").cast("double")
    s2 = F.col("s2").cast("double")
    var = (nt * s2 - s1 * s1) / (nt * (nt - 1.0))
    return m.select(
        "doc_id",
        "n_types",
        "n_tokens",
        F.when(F.col("n_types") > 1, F.round(var / (s1 / nt), 6)).alias(
            "burstiness_vmr"
        ),
    )


@register(
    "source_quality_league",
    oracle=f"""
        WITH ent AS ({_TOKEN_ENTROPY_STMT}),
        bur AS ({_TOKEN_BURSTINESS_STMT})
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(CAST(ROUND(e.entropy * 1000000, 0) AS BIGINT))
                          AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) / 1000000, 6)
                   AS mean_entropy,
               ROUND(CAST(SUM(CAST(ROUND(e.type_token_ratio * 1000000, 0)
                                   AS BIGINT)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) / 1000000, 6) AS mean_ttr,
               ROUND(CAST(SUM(CAST(ROUND(b.burstiness_vmr * 1000000, 0)
                                   AS BIGINT)) AS DOUBLE)
                     / CAST(COUNT(b.burstiness_vmr) AS DOUBLE) / 1000000, 6)
                   AS mean_vmr
        FROM documents d
        JOIN ent e ON e.doc_id = d.doc_id
        JOIN bur b ON b.doc_id = d.doc_id
        GROUP BY d.source
    """,
    doc=(
        "SOURCE QUALITY LEAGUE TABLE: per-source means of the "
        "document-level quality signals (unigram entropy, type/token "
        "ratio, burstiness VMR) — the crawl-prioritization scoreboard "
        "('which source deserves more budget') that rolls the per-doc "
        "gates up to the acquisition decision. Reuses the registered "
        "signals' oracle statements verbatim as CTEs so the league can "
        "never drift from its inputs. Determinism across an "
        "unbounded-count mean: each per-doc signal is quantized to "
        "exact 1e-6 bigints BEFORE the sum (averaging rounded doubles "
        "directly would be engine-order-dependent), then one identical "
        "division; VMR averages over non-null docs only. At 100 TB: "
        "the signal substrates are the explode-aggregate shapes already "
        "measured; this adds a |docs|->|sources| rollup."
    ),
    tags=("text", "quality", "llm", "profiling"),
)
def source_quality_league(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ent = token_entropy_quality(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("entropy") * 1000000, 0).cast("bigint").alias("ent_q"),
        F.round(F.col("type_token_ratio") * 1000000, 0)
        .cast("bigint")
        .alias("ttr_q"),
    )
    bur = token_burstiness(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("burstiness_vmr") * 1000000, 0)
        .cast("bigint")
        .alias("vmr_q"),
    )
    joined = docs.select("doc_id", "source").join(ent, "doc_id").join(
        bur, "doc_id"
    )
    n = F.count(F.lit(1)).cast("double")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("ent_q").cast("double") / n / 1000000, 6).alias(
            "mean_entropy"
        ),
        F.round(F.sum("ttr_q").cast("double") / n / 1000000, 6).alias(
            "mean_ttr"
        ),
        F.round(
            F.sum("vmr_q").cast("double")
            / F.count("vmr_q").cast("double")
            / 1000000,
            6,
        ).alias("mean_vmr"),
    )


WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # winnowing window (consecutive k-grams per selection window)
_WINNOW_P = 1000000007


@register(
    "winnowing_fingerprints",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        ),
        codes AS (
            SELECT doc_id, pos,
                   CAST(ascii(tok) * 31 + length(tok) AS BIGINT) AS c
            FROM toks
        ),
        kg AS (
            SELECT doc_id, pos,
                   (c * 1000003
                    + lead(c, 1) OVER w * 101
                    + lead(c, 2) OVER w) % {_WINNOW_P} AS h
            FROM codes
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(c, 2) OVER w IS NOT NULL
        ),
        sized AS (
            SELECT doc_id, pos, h,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n_kg
            FROM kg
        ),
        wins AS (
            SELECT doc_id, pos, h, n_kg,
                   unnest(generate_series(
                       greatest(1, pos - {WINNOW_W - 1}),
                       least(pos, greatest(n_kg - {WINNOW_W - 1}, 1)))) AS s
            FROM sized
        ),
        sel AS (
            SELECT doc_id, pos, h, n_kg,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, s
                                      ORDER BY h ASC, pos DESC) AS rn
            FROM wins
        ),
        fp AS (SELECT DISTINCT doc_id, pos, h, n_kg FROM sel WHERE rn = 1)
        SELECT doc_id,
               MAX(n_kg) AS n_kgrams,
               CAST(COUNT(*) AS BIGINT) AS n_selected,
               ROUND(COUNT(*) * 1.0 / MAX(n_kg), 6) AS density,
               CAST(SUM(h) % {_WINNOW_P} AS BIGINT) AS fp_checksum
        FROM fp GROUP BY doc_id
    """,
    doc=(
        "WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — "
        "the MOSS plagiarism-detector selection rule): hash every "
        f"{WINNOW_K}-token k-gram, slide a window of {WINNOW_W} "
        "consecutive k-grams, keep the window minimum (rightmost on "
        "ties), dedupe the kept (position, hash) pairs. Guarantees every "
        "shared substring of length >= w+k-1 tokens contributes at least "
        "one matching fingerprint while storing only ~2/(w+1) of the "
        "k-grams — the local, position-robust alternative to the global "
        "doc_fingerprints polynomial and the MinHash sketch. The k-gram "
        "hash is portable integer arithmetic (same trick as "
        "doc_fingerprints) so DuckDB verifies bit-identical checksums. "
        "Plan: posexplode -> two lead() windows + one count() window, "
        "all partitioned by doc_id (per-partition frames are single "
        "documents — no global window anywhere); the window-start "
        "explode multiplies rows by at most w; selection is a "
        "(doc_id, window)-partitioned row_number. Everything shuffles "
        "on doc_id once then stays put; docs shorter than k tokens "
        "yield no k-gram and are correctly absent."
    ),
    tags=("text", "llm", "fingerprint", "dedup"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_select(load_table(spark, sf_dir, "documents"))


def winnowing_select(docs: DataFrame) -> DataFrame:
    """The winnowing core over any (doc_id, text) DataFrame — split out so
    the hypothesis property test can drive it with arbitrary documents."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    codes = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        (F.ascii("tok") * 31 + F.length("tok")).cast("bigint").alias("c"),
    )
    kg = (
        codes.select(
            "doc_id",
            "pos",
            (
                (
                    F.col("c") * 1000003
                    + F.lead("c", 1).over(w_doc) * 101
                    + F.lead("c", 2).over(w_doc)
                )
                % _WINNOW_P
            ).alias("h"),
        )
        .filter(F.col("h").isNotNull())
    )
    sized = kg.select(
        "doc_id",
        "pos",
        "h",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_kg"),
    )
    wins = sized.select(
        "doc_id",
        "pos",
        "h",
        "n_kg",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1).cast("bigint"), F.col("pos") - (WINNOW_W - 1)),
                F.least(
                    F.col("pos"),
                    F.greatest(
                        F.col("n_kg") - (WINNOW_W - 1), F.lit(1).cast("bigint")
                    ),
                ),
            )
        ).alias("s"),
    )
    sel = (
        wins.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id", "s").orderBy(
                    F.asc("h"), F.desc("pos")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", "h", "n_kg")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.max("n_kg").alias("n_kgrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.round(F.count(F.lit(1)) / F.max("n_kg"), 6).alias("density"),
        (F.sum("h") % _WINNOW_P).cast("bigint").alias("fp_checksum"),
    )


@register(
    "tfidf_cosine_doc_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id,
                         unnest([array_to_string(t[i:i+2], ' ')
                                 FOR i IN range(1, len(t) - 1)]) AS term
                  FROM toks)
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        w AS (
            SELECT tf.doc_id, tf.term,
                   CAST(ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df) * 1000, 0)
                        AS BIGINT) AS wq
            FROM tf JOIN df USING (term) CROSS JOIN n
        ),
        nrm AS (
            SELECT doc_id, SQRT(SUM(wq * wq)) AS nrm FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   SUM(a.wq * b.wq) AS dot,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_terms
            FROM w a JOIN w b
              ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d.doc_a, d.doc_b,
               ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine_sim,
               d.n_shared_terms
        FROM dots d
        JOIN nrm na ON d.doc_a = na.doc_id
        JOIN nrm nb ON d.doc_b = nb.doc_id
        ORDER BY cosine_sim DESC, doc_a, doc_b
        LIMIT 20
    """,
    doc=(
        "SPARSE TF-IDF COSINE similarity join over word-TRIGRAM terms: "
        "top-20 most similar document pairs through the inverted index — "
        "the lexical similarity measure that complements embedding "
        "cosine (catches verbatim overlap that dense vectors smooth "
        "away) and n-gram Jaccard (idf-weights rare shingles instead of "
        "counting all equally). The term unit is the 3-gram shingle, NOT "
        "the unigram, and that choice IS the scale story: the posting "
        "join's fan-out is sum(df^2) over terms, and unigram df is "
        "corpus-fraction-sized (measured 4.5e8 pair-term rows on the "
        "fixture vs 2.8e6 for trigrams — 160x), while trigram df is "
        "bounded by real phrase repetition. Same reason every serious "
        "near-dup system shingles first. Weights are QUANTIZED to "
        "integer milli-units before the pair dot product, so the sum is "
        "exact integer arithmetic in both engines — float dot products "
        "summed in different orders would drift across the hash gate "
        "(the bigint-cents trick). Plan: tf and df are vocab-bounded "
        "aggregates; pair generation is a postings equi-join keyed on "
        "the SHINGLE — never doc x doc — with per-doc norms joined "
        "back; top-20 via TakeOrderedAndProject. Residual hot shingles "
        "at 100 TB get the df-cap prune (idf ~ 0 anyway), the "
        "prefix-filtering idea."
    ),
    tags=("text", "llm", "similarity", "dedup"),
)
def tfidf_cosine_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(grams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1000, 0)
            .cast("bigint")
            .alias("wq"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wq") * F.col("wq"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("wq").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        )
    )
    return (
        dots.join(
            F.broadcast(nrm.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nrm", "na")),
            "doc_a",
        )
        .join(
            F.broadcast(nrm.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nrm", "nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine_sim"),
            "n_shared_terms",
        )
        .orderBy(F.desc("cosine_sim"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


@register(
    "quality_screen_agreement",
    oracle=f"""
        WITH flags AS (
            SELECT CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> list_contains({list(STOPWORDS)}, t)))
                             * 1.0 / len(string_split(text, ' ')) >= 0.05
                        THEN 1 ELSE 0 END AS a,
                   CASE WHEN len(list_distinct(string_split(text, ' ')))
                             * 1.0 / len(string_split(text, ' ')) >= 0.5
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        cm AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a * b) AS BIGINT) AS both_pass,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS only_a,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS only_b,
                   CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS both_fail,
                   AVG(a) AS pa, AVG(b) AS pb
            FROM flags
        )
        SELECT n, both_pass, only_a, only_b, both_fail,
               ROUND((both_pass + both_fail) * 1.0 / n, 6) AS percent_agreement,
               ROUND(((both_pass + both_fail) * 1.0 / n
                      - (pa * pb + (1 - pa) * (1 - pb)))
                     / (1 - (pa * pb + (1 - pa) * (1 - pb))), 6) AS cohens_kappa
        FROM cm
    """,
    doc=(
        "QUALITY-SCREEN AGREEMENT (Cohen's kappa): cross-tabulate two "
        "independent document screens — fluency (stopword density >= "
        "0.05) and non-repetition (unique-token ratio >= 0.5) — and "
        "report the 2x2 confusion matrix, raw percent agreement, and "
        "kappa = (p_o - p_e)/(1 - p_e), agreement ABOVE CHANCE. This is "
        "the filter-redundancy diagnostic a curation pipeline runs "
        "before chaining screens: kappa ~ 1 means the second screen "
        "adds nothing (drop it and save a pass); kappa ~ 0 means the "
        "screens cut along independent axes and both earn their cost — "
        "raw agreement alone cannot distinguish these once base rates "
        "are skewed, which is exactly why kappa corrects for chance. "
        "Plan: one projection pass computes both flags, one global "
        "aggregate computes the matrix and marginals together; a 1-row "
        "self-contained statistic at any scale."
    ),
    tags=("text", "llm", "quality", "statistics"),
)
def quality_screen_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    a = (
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)
        >= 0.05
    ).cast("int")
    b = (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5).cast("int")
    flags = docs.select(a.alias("a"), b.alias("b"))
    cm = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("both_pass"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("only_a"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("only_b"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("both_fail"),
        F.avg("a").alias("pa"),
        F.avg("b").alias("pb"),
    )
    p_o = (F.col("both_pass") + F.col("both_fail")) / F.col("n")
    p_e = F.col("pa") * F.col("pb") + (1 - F.col("pa")) * (1 - F.col("pb"))
    return cm.select(
        "n",
        "both_pass",
        "only_a",
        "only_b",
        "both_fail",
        F.round(p_o, 6).alias("percent_agreement"),
        F.round((p_o - p_e) / (1 - p_e), 6).alias("cohens_kappa"),
    )


# --- corpus diversity & memorization-risk audits (round 5) ------------------


@register(
    "ngram_diversity_curve",
    oracle="""
        WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        grams AS (
            SELECT 1 AS n, unnest([array_to_string(t[i:i+0], ' ')
                           FOR i IN range(1, len(t) - 1 + 2)]) AS gram
            FROM toks WHERE len(t) >= 1
            UNION ALL
            SELECT 2 AS n, unnest([array_to_string(t[i:i+1], ' ')
                           FOR i IN range(1, len(t) - 2 + 2)]) AS gram
            FROM toks WHERE len(t) >= 2
            UNION ALL
            SELECT 3 AS n, unnest([array_to_string(t[i:i+2], ' ')
                           FOR i IN range(1, len(t) - 3 + 2)]) AS gram
            FROM toks WHERE len(t) >= 3
            UNION ALL
            SELECT 4 AS n, unnest([array_to_string(t[i:i+3], ' ')
                           FOR i IN range(1, len(t) - 4 + 2)]) AS gram
            FROM toks WHERE len(t) >= 4
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS total_ngrams,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
               ROUND(COUNT(DISTINCT gram) * 1.0 / COUNT(*), 6) AS diversity
        FROM grams GROUP BY n
    """,
    doc=(
        "N-GRAM DIVERSITY CURVE (n=1..4): distinct-over-total n-gram "
        "ratio per order — the standard corpus-health metric "
        "(distinct-n in generation papers, type/token ratio at n=1): a "
        "curve that flattens early signals templated/boilerplate text, "
        "and its round-over-round drift is the cheapest canary for "
        "silent duplication creeping into a growing corpus. Plan: one "
        "explode per order fed by the same scan (Spark unions the four "
        "aggregates; each is a map-side count + approx-free distinct "
        "count via hash aggregate keyed on the gram). Only (n, gram) "
        "pairs shuffle; at 100 TB swap the exact distinct for HLL "
        "(hll_mergeable_rollup pattern) — the curve needs 3 significant "
        "digits, not exactness. Output is 4 rows."
    ),
    tags=("text", "llm", "statistics"),
)
def ngram_diversity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    parts = []
    for n in (1, 2, 3, 4):
        grams = docs.select(
            F.explode(word_ngrams(tokens(F.col("text")), n)).alias("gram")
        )
        parts.append(
            grams.agg(
                F.lit(n).cast("bigint").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
                F.count_distinct("gram").cast("bigint").alias("distinct_ngrams"),
                F.round(F.count_distinct("gram") / F.count(F.lit(1)), 6).alias(
                    "diversity"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_MEMO_WIN = 8  # window length of cross_doc_repeated_passages
_MEMO_TRIM = 0.2  # per-doc repeated fraction that triggers the trim action


@register(
    "memorization_risk_scores",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        win AS (
            SELECT doc_id,
                   unnest([sha256(array_to_string(t[i:i+{_MEMO_WIN - 1}], ' '))
                           FOR i IN range(1, len(t) - {_MEMO_WIN - 2})]) AS w
            FROM toks WHERE len(t) >= {_MEMO_WIN}
        ),
        shared AS (
            SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        per_doc AS (
            SELECT v.doc_id,
                   COUNT(*) AS n_windows,
                   SUM(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END) AS n_repeated
            FROM win v LEFT JOIN shared s USING (w)
            GROUP BY v.doc_id
        )
        SELECT doc_id,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(n_repeated AS BIGINT) AS n_repeated,
               ROUND(n_repeated * 1.0 / n_windows, 6) AS repeated_frac,
               CASE WHEN n_repeated * 1.0 / n_windows >= {_MEMO_TRIM}
                    THEN 'trim' ELSE 'keep' END AS action
        FROM per_doc
    """,
    doc=(
        f"PER-DOCUMENT MEMORIZATION-RISK SCORING: the fraction of each "
        f"document's {_MEMO_WIN}-word sliding windows that also occur in "
        "at least one OTHER document, plus the actionable verdict "
        f"(repeated_frac >= {_MEMO_TRIM} -> 'trim') — the per-doc "
        "aggregation that turns cross_doc_repeated_passages' global "
        "window inventory into the substring-dedup ACTION list of Lee "
        "et al. ('Deduplicating Training Data Makes Language Models "
        "Better'): docs dominated by cross-doc boilerplate get trimmed "
        "or dropped, because verbatim-repeated spans are the spans "
        "models memorize. Plan: windows are content-hashed in ONE "
        "projection feeding explode (no materialized arrays), the "
        "shared-window set is a digest-keyed aggregate (only digests "
        "shuffle, never text), and the per-doc score is a second "
        "digest-keyed join + doc-keyed aggregate. The shared set is "
        "corpus-sized metadata, not broadcastable — the join stays "
        "shuffled on the digest, the same key both sides already "
        "aggregated on. Per-doc output, deterministic."
    ),
    tags=("text", "llm", "dedup", "scale"),
)
def memorization_risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # r11 optimization (guide §2.3): the window digest is internal (only
    # shared/total counts reach the output), so xxhash64 longs replace
    # sha2 hex strings — the digest shuffle dropped ~15.3 MB -> ~3 MB at
    # sf0.1 and the per-window hash is ~10x cheaper; collision odds are
    # the MinHash-verifier bound (~|windows|^2/2^64), negligible and
    # oracle-checked at every SF.
    win = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                word_ngrams(tokens(F.col("text")), _MEMO_WIN),
                lambda g: F.xxhash64(g),
            )
        ).alias("w"),
    )
    shared = (
        win.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("w", F.lit(1).alias("is_shared"))
    )
    per_doc = (
        win.join(shared, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.coalesce("is_shared", F.lit(0))).cast("bigint").alias(
                "n_repeated"
            ),
        )
    )
    frac = F.col("n_repeated") / F.col("n_windows")
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_repeated",
        F.round(frac, 6).alias("repeated_frac"),
        F.when(frac >= _MEMO_TRIM, "trim").otherwise("keep").alias("action"),
    )


_QNORM_DECILES = (1, 2, 3, 4, 5, 6, 7, 8, 9)


@register(
    "quality_score_quantile_norm",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, source,
                   CAST(COALESCE(8 * LEAST(len(string_split(text, ' ')), 50)
                     + (300 * len(list_filter(string_split(text, ' '),
                            t -> list_contains({list(STOPWORDS)}, t))))
                       // len(string_split(text, ' '))
                     + (300 * len(list_distinct(string_split(text, ' '))))
                       // len(string_split(text, ' ')), -1) AS BIGINT) AS q
            FROM documents
        ),
        src_hist AS (
            SELECT source, q, CAST(COUNT(*) AS BIGINT) AS c
            FROM feats GROUP BY source, q
        ),
        src_cum AS (
            SELECT source, q,
                   SUM(c) OVER (PARTITION BY source ORDER BY q) AS cum,
                   SUM(c) OVER (PARTITION BY source) AS n
            FROM src_hist
        ),
        glob_hist AS (
            SELECT q, CAST(COUNT(*) AS BIGINT) AS c FROM feats GROUP BY q
        ),
        glob_cum AS (
            SELECT q, SUM(c) OVER (ORDER BY q) AS cum,
                   SUM(c) OVER () AS n
            FROM glob_hist
        ),
        ds AS (SELECT unnest([{",".join(map(str, _QNORM_DECILES))}]) AS d),
        src_cuts AS (
            SELECT sc.source, ds.d, MIN(sc.q) AS source_cut
            FROM src_cum sc JOIN ds
              ON sc.cum >= CAST(CEIL(ds.d * sc.n / 10.0) AS BIGINT)
            GROUP BY sc.source, ds.d
        ),
        glob_cuts AS (
            SELECT ds.d, MIN(g.q) AS global_cut
            FROM glob_cum g JOIN ds
              ON g.cum >= CAST(CEIL(ds.d * g.n / 10.0) AS BIGINT)
            GROUP BY ds.d
        )
        SELECT s.source, CAST(s.d AS BIGINT) AS decile,
               CAST(s.source_cut AS BIGINT) AS source_cut,
               CAST(g.global_cut AS BIGINT) AS global_cut,
               CAST(s.source_cut - g.global_cut AS BIGINT) AS shift
        FROM src_cuts s JOIN glob_cuts g USING (d)
    """,
    doc=(
        "PER-SOURCE QUALITY-SCORE CALIBRATION TABLE: each source's "
        "decile cutpoints of the heuristic quality score next to the "
        "global cutpoints, with the shift — the audit behind quantile "
        "normalization of quality filters across heterogeneous sources "
        "(a fixed global threshold silently over-prunes sources whose "
        "scorer runs low and under-prunes the ones it flatters; the "
        "shift column IS that bias, per decile). The score is "
        "INTEGER-EXACT on a 0-1000 scale, with NULL-text docs at the -1 "
        "sentinel (8*least(n_tokens,50) + "
        "floor(300*stopwords/n_tokens) + floor(300*distinct/n_tokens), "
        "integer division in both engines) — the round-8 ULP audit "
        "caught the former float score's ROUND(q, 6) sitting exactly "
        "on a half-grid tie, so the whole query is now float-free. "
        "Cutpoints are percentile_disc-style (the score at rank "
        "ceil(d*n/10), no interpolation drift), computed from the "
        "SCORE HISTOGRAM: cut_d = min q with cumulative count >= the "
        "rank — identical to ranking every row (ranks inside a score "
        "tie share the q the cut reports; equality-tested vs the naive "
        "rank form). Plan (r8): one hash aggregate to the (source, q) "
        "histogram, cumulative windows over the <=1002-value score "
        "DOMAIN (the integer lift is what makes the domain finite), a "
        "9-row broadcast decile range-join, and a min — the former "
        "corpus-scale global ROW_NUMBER window (the one documented "
        "exact_global_ntiles swap candidate) is gone; nothing after "
        "the first aggregate scales with the corpus."
    ),
    tags=("text", "llm", "statistics", "window"),
)
def quality_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("_nt"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .cast("bigint")
        .alias("_sn"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("_un"),
    ).select(
        "source",
        # NULL-text docs carry the -1 sentinel (lowest quality) so the
        # cumulative histogram ordering is total and ENGINE-AGREED —
        # Spark windows sort NULL q first, DuckDB last (the same edge
        # contract curriculum_interleave_order pins)
        F.coalesce(
            8 * F.least(F.col("_nt"), F.lit(50))
            + F.expr("(300 * _sn) div _nt")
            + F.expr("(300 * _un) div _nt"),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("q"),
    )

    ds = spark.createDataFrame([(d,) for d in _QNORM_DECILES], "d int")

    # histogram first: every window below runs over the score DOMAIN
    # (<=1002 values: integer 0-1000 by construction plus the -1
    # NULL-text sentinel), never the corpus
    src_hist = feats.groupBy("source", "q").agg(F.count(F.lit(1)).alias("c"))
    src_cum = src_hist.select(
        "source",
        "q",
        F.sum("c").over(Window.partitionBy("source").orderBy("q")).alias("cum"),
        F.sum("c").over(Window.partitionBy("source")).alias("n"),
    )
    rank_needed = F.ceil(F.col("d") * F.col("n") / 10.0).cast("long")
    src_cuts = (
        src_cum.join(F.broadcast(ds), F.col("cum") >= rank_needed)
        .groupBy("source", "d")
        .agg(F.min("q").alias("source_cut"))
    )

    glob_hist = feats.groupBy("q").agg(F.count(F.lit(1)).alias("c"))
    glob_cum = glob_hist.select(
        "q",
        F.sum("c").over(Window.orderBy("q")).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    glob_cuts = (
        glob_cum.join(F.broadcast(ds), F.col("cum") >= rank_needed)
        .groupBy("d")
        .agg(F.min("q").alias("global_cut"))
    )
    return (
        src_cuts.join(F.broadcast(glob_cuts), "d")
        .select(
            "source",
            F.col("d").cast("bigint").alias("decile"),
            F.col("source_cut").cast("bigint").alias("source_cut"),
            F.col("global_cut").cast("bigint").alias("global_cut"),
            (F.col("source_cut") - F.col("global_cut"))
            .cast("bigint")
            .alias("shift"),
        )
    )


@register(
    "phrase_match_positions",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        tri AS (
            SELECT doc_id, u.pos, u.phrase FROM (
                SELECT doc_id,
                       unnest([{'pos': i,
                                'phrase': array_to_string(t[i:i+2], ' ')}
                               FOR i IN range(1, len(t) - 1)]) AS u
                FROM toks
            )
        ),
        top AS (
            SELECT phrase FROM tri
            GROUP BY phrase
            ORDER BY COUNT(*) DESC, phrase ASC
            LIMIT 1
        )
        SELECT tri.doc_id, tri.pos, tri.phrase
        FROM tri JOIN top USING (phrase)
    """,
    doc=(
        "POSITIONAL PHRASE MATCHING: every exact occurrence (doc_id, "
        "1-based token position) of a 3-word query phrase — the "
        "positional-postings retrieval primitive that term-level "
        "boolean_and_search cannot express (AND-of-terms matches words "
        "scattered anywhere; a phrase needs ADJACENCY). The query "
        "phrase is data-derived for determinism: the corpus's most "
        "frequent trigram, tie-broken lexicographically. Plan: ONE scan "
        "builds the positional trigram postings as a projection "
        "(transform over the token array feeding posexplode — no "
        "self-join of a postings table on pos+1/pos+2, which would "
        "shuffle the corpus twice); the top-1 phrase is a "
        "TakeOrderedAndProject over the vocab-bounded trigram counts; "
        "the probe is a broadcast equi-join of that 1-row phrase back "
        "into the postings stream. At 100 TB with a USER-supplied "
        "phrase the count/top-1 subtree disappears entirely and the "
        "probe becomes a pushed-down literal filter; either way only "
        "(doc_id, pos) pairs for MATCHING trigrams survive the scan — "
        "the posting list of one phrase, not a positional index of the "
        "corpus."
    ),
    tags=("text", "llm", "retrieval"),
)
def phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    tri = docs.select(
        "doc_id",
        F.posexplode(word_ngrams(tokens(F.col("text")), 3)).alias("pos0", "phrase"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "phrase")
    top = (
        tri.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("phrase"))
        .limit(1)
        .select("phrase")
    )
    return tri.join(F.broadcast(top), "phrase").select("doc_id", "pos", "phrase")


# --- TextRank keyphrases + word2vec-style sampling table --------------------

_TR_DAMP = 0.85
_TR_ITERS = 5
_TR_MIN_COOC = 10  # adjacent-pair support required before an edge exists


def _textrank_oracle() -> str:
    """Unrolled weighted TextRank as a DuckDB CTE chain (same shape as
    the pagerank oracle: fixed rounds, undirected construction, so no
    dangling mass)."""
    steps = []
    prev = "p0"
    for i in range(1, _TR_ITERS + 1):
        steps.append(
            f"""p{i} AS (
            SELECT e.dst AS term,
                   (1 - {_TR_DAMP}) / n.n
                   + {_TR_DAMP} * SUM(p.rank * e.w / wd.wdeg) AS rank
            FROM edges e
            JOIN {prev} p ON p.term = e.src
            JOIN wdeg wd ON wd.term = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.n
        )"""
        )
        prev = f"p{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS t FROM documents
        ),
        big AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks
        ),
        und AS (
            SELECT string_split(bigram, ' ')[1] AS a,
                   string_split(bigram, ' ')[2] AS b,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM big
            WHERE string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_TR_MIN_COOC}
        ),
        edges AS (
            SELECT a AS src, b AS dst, w FROM und
            UNION ALL
            SELECT b AS src, a AS dst, w FROM und
        ),
        wdeg AS (
            SELECT src AS term, SUM(w) AS wdeg FROM edges GROUP BY src
        ),
        n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM edges),
        p0 AS (
            SELECT DISTINCT e.src AS term, 1.0 / n.n AS rank
            FROM edges e CROSS JOIN n
        ),
        {chain}
        SELECT term, ROUND(rank, 6) AS textrank
        FROM p{_TR_ITERS}
        ORDER BY textrank DESC, term ASC
        LIMIT 20
    """


@register(
    "textrank_keyphrases",
    oracle=_textrank_oracle(),
    doc=(
        f"TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau 2004): weighted "
        f"PageRank (d={_TR_DAMP}, {_TR_ITERS} fixed rounds) over the "
        "word co-occurrence graph — nodes are tokens, undirected edges "
        f"are ADJACENT-token pairs with support >= {_TR_MIN_COOC} "
        "(min-support bounds the graph to the frequent-collocation "
        "core), edge weight = co-occurrence count, rank mass flows "
        "proportional to w/weighted-degree. Top-20 terms by rounded "
        "rank. Unlike frequency-based RAKE (rake_keyphrases), TextRank "
        "rewards tokens CENTRAL to the collocation graph rather than "
        "merely frequent — the other classic unsupervised keyword "
        "family, here sharing the Pregel-as-join machinery of "
        "pagerank_brand_graph: the iteration state is the O(|vocab'|) "
        "rank vector (vocab' = min-support survivors), each round is "
        "one broadcast-rank join + dst-keyed aggregate, the edge list "
        "shuffles ONCE at build. Undirected construction leaves no "
        "dangling mass, so five fixed rounds are deterministic and the "
        "oracle unrolls the identical chain."
    ),
    tags=("text", "llm", "graph", "iterative"),
)
def textrank_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import persisted_result

    docs = load_table(spark, sf_dir, "documents")
    bigrams = docs.select(F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
    und = (
        bigrams.select(
            F.split("bigram", " ")[0].alias("a"),
            F.split("bigram", " ")[1].alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .filter(F.col("w") >= _TR_MIN_COOC)
    )
    # the edge list feeds wdeg + n + seed + every round: persist once,
    # release after materialization (same rationale as pagerank)
    return persisted_result(und, _textrank_tree)


def _textrank_tree(und: DataFrame) -> DataFrame:
    from weather_stream_processor_spark.plans.caching import truncate_lineage

    # r11 (guide §2.2/§2.6): the unionAll doubles the persisted und's
    # partition count (32+32 = 64), and every one of the ~11 sequential
    # round jobs (broadcast builds + dst-keyed aggregates + final sort)
    # scheduled 64-task map stages over a collocation table of a few
    # hundred rows — the wall was task scheduling, not compute. One
    # repartition("src") exchange lets AQE size the edge frame to its
    # bytes (1-2 partitions at fixture scale, proportionally more at
    # 100 TB — REPARTITION_BY_COL allows coalescing), and the lineage
    # cut materializes it once for every round. A/B at sf0.01
    # (interleaved min-of-3): 8.33 → 2.42 s, outputs identical.
    edges = truncate_lineage(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
        .repartition("src")
    )
    wdeg = edges.groupBy(F.col("src").alias("term")).agg(
        F.sum("w").alias("wdeg")
    )
    n_df = edges.agg(F.countDistinct("src").cast("double").alias("n"))
    ranks = (
        edges.select("src")
        .distinct()
        .crossJoin(F.broadcast(n_df))
        .select(F.col("src").alias("term"), (1.0 / F.col("n")).alias("rank"))
    )
    for _ in range(_TR_ITERS):
        # rank vector and weighted-degree table are O(|vocab'|): broadcast
        # both so a round never shuffles the edge list
        msgs = (
            edges.join(
                F.broadcast(ranks.withColumnRenamed("term", "src")), "src"
            )
            .join(F.broadcast(wdeg.withColumnRenamed("term", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("wdeg")).alias("s"))
        )
        ranks = msgs.crossJoin(F.broadcast(n_df)).select(
            F.col("dst").alias("term"),
            ((1 - _TR_DAMP) / F.col("n") + _TR_DAMP * F.col("s")).alias("rank"),
        )
    return (
        ranks.select("term", F.round("rank", 6).alias("textrank"))
        .orderBy(F.desc("textrank"), F.asc("term"))
        .limit(20)
    )


_NEG_TABLE_TOP = 200  # vocabulary slice carried into the sampling table
_NEG_POWER = 0.75  # word2vec's unigram-distribution flattening exponent


@register(
    "unigram_sampling_table",
    oracle=f"""
        WITH uni AS (
            SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ),
        top AS (
            SELECT term, c FROM uni
            ORDER BY c DESC, term ASC
            LIMIT {_NEG_TABLE_TOP}
        ),
        pw AS (
            SELECT term, c, ROUND(POWER(c, {_NEG_POWER}), 6) AS w
            FROM top
        )
        SELECT term, c,
               ROUND(w / SUM(w) OVER (), 6) AS p_sample,
               ROUND(SUM(w) OVER (ORDER BY c DESC, term ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     / SUM(w) OVER (), 6) AS cum_p
        FROM pw
    """,
    doc=(
        "NEGATIVE-SAMPLING TABLE (word2vec's unigram^"
        f"{_NEG_POWER} distribution) over the top-{_NEG_TABLE_TOP} "
        "vocabulary: per term its count, flattened sampling probability "
        "p ~ c^0.75 (the exponent that up-weights rare words enough to "
        "train against without letting stopwords dominate), and the "
        "CUMULATIVE probability — the inverse-CDF lookup column a "
        "sampler binary-searches with a uniform draw, which is how "
        "negative sampling actually executes inside a skip-gram/"
        "contrastive trainer. Plan: one explode + vocab-bounded hash "
        "aggregate, TakeOrderedAndProject for the top slice, then "
        f"ordered/whole windows over the {_NEG_TABLE_TOP}-row table "
        "(bounded by construction). POWER results are rounded to 6dp "
        "BEFORE the normalizing sums so cross-libm ulp drift in pow() "
        "cannot reach the hash."
    ),
    tags=("text", "llm", "sampling"),
)
def unigram_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = uni.orderBy(F.desc("c"), F.asc("term")).limit(_NEG_TABLE_TOP)
    pw = top.select(
        "term", "c", F.round(F.pow("c", F.lit(_NEG_POWER)), 6).alias("w")
    )
    # 200-row frames: bounded by the table slice, never the corpus
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_run = Window.orderBy(F.desc("c"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return pw.select(
        "term",
        "c",
        F.round(F.col("w") / F.sum("w").over(w_all), 6).alias("p_sample"),
        F.round(F.sum("w").over(w_run) / F.sum("w").over(w_all), 6).alias(
            "cum_p"
        ),
    )


# --- Rocchio pseudo-relevance feedback ---------------------------------------

_PRF_FB_DOCS = 10  # feedback depth: top docs assumed relevant
_PRF_TERMS = 10  # expansion terms returned


@register(
    "rocchio_query_expansion",
    oracle=f"""
        WITH run AS ({_BM25_ORACLE}),
        fb AS (
            SELECT doc_id FROM run
            ORDER BY bm25 DESC, doc_id ASC LIMIT {_PRF_FB_DOCS}
        ),
        posts AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf_fb AS (
            SELECT p.term, CAST(COUNT(*) AS BIGINT) AS tf_fb
            FROM posts p JOIN fb USING (doc_id)
            GROUP BY p.term
        ),
        df AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM posts GROUP BY term
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        SELECT t.term, t.tf_fb, d.df,
               ROUND(t.tf_fb * ln(nd.n * 1.0 / d.df), 6) AS rocchio_weight
        FROM tf_fb t JOIN df d USING (term) CROSS JOIN nd
        WHERE t.term NOT IN ('spark', 'join', 'window')
        ORDER BY rocchio_weight DESC, t.term ASC
        LIMIT {_PRF_TERMS}
    """,
    doc=(
        "ROCCHIO PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION: assume the "
        f"top-{_PRF_FB_DOCS} BM25 results are relevant, build the "
        "feedback centroid in tf-idf space (term frequency WITHIN the "
        "feedback docs x corpus ln(N/df)), and emit the "
        f"top-{_PRF_TERMS} expansion terms the original query lacks — "
        "the classic second-pass retrieval move (expand 'spark join "
        "window' with the vocabulary its best matches actually use, "
        "then re-query) that lifts recall when queries underspecify. "
        "Plan: reuses bm25_top_docs' registered execution for the run "
        f"(its {_PRF_FB_DOCS}-row head broadcasts into the postings "
        "join, so the tf_fb aggregate touches only feedback-doc "
        "postings), the corpus df table is the same vocab-bounded "
        "aggregate the tf-idf family shares, and the final top-k is "
        "TakeOrderedAndProject with full tie-breaks. Weights round to "
        "6dp before ranking."
    ),
    tags=("text", "retrieval", "llm"),
)
def rocchio_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_stream_processor_spark.registry import _REGISTRY

    run = _REGISTRY["bm25_top_docs"].builder(spark, sf_dir)
    fb = (
        run.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_PRF_FB_DOCS)
        .select("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    posts = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf_fb = (
        posts.join(F.broadcast(fb), "doc_id")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_fb"))
    )
    df = posts.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        tf_fb.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .filter(~F.col("term").isin(*_BM25_TERMS))
        .select(
            "term",
            "tf_fb",
            "df",
            F.round(
                F.col("tf_fb") * F.log(F.col("n") * 1.0 / F.col("df")), 6
            ).alias("rocchio_weight"),
        )
        .orderBy(F.desc("rocchio_weight"), F.asc("term"))
        .limit(_PRF_TERMS)
    )


# --- Heaps' law: vocabulary-growth companion to the Zipf rank fit -----------

_HEAPS_CHECKPOINTS = 10


@register(
    "heaps_law_fit",
    oracle=f"""
        WITH bounds AS (
            SELECT MIN(doc_id) AS dmin, MAX(doc_id) AS dmax FROM documents
        ),
        cps AS (
            SELECT CAST(s.i AS BIGINT) AS cp,
                   b.dmin + CAST(FLOOR(s.i * (b.dmax - b.dmin)
                                       / {_HEAPS_CHECKPOINTS}.0) AS BIGINT)
                       AS bound
            FROM bounds b,
                 LATERAL (SELECT unnest(generate_series(1,
                              {_HEAPS_CHECKPOINTS})) AS i) s
        ),
        doc_tok AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        firsts AS (
            SELECT tok, MIN(doc_id) AS first_doc
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        toks_at AS (
            SELECT c.cp, c.bound, CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens
            FROM cps c JOIN doc_tok d ON d.doc_id <= c.bound
            GROUP BY c.cp, c.bound
        ),
        vocab_at AS (
            SELECT c.cp, CAST(COUNT(*) AS BIGINT) AS vocab
            FROM cps c JOIN firsts f ON f.first_doc <= c.bound
            GROUP BY c.cp
        ),
        pts AS (
            SELECT t.cp, t.bound, t.n_tokens, v.vocab,
                   ln(t.n_tokens) AS x, ln(v.vocab) AS y
            FROM toks_at t JOIN vocab_at v USING (cp)
        ),
        fit AS (
            SELECT cp, bound, n_tokens, vocab,
                   (SUM(x * y) OVER () - COUNT(*) OVER ()
                        * AVG(x) OVER () * AVG(y) OVER ())
                   / (SUM(x * x) OVER () - COUNT(*) OVER ()
                        * AVG(x) OVER () * AVG(x) OVER ()) AS beta,
                   AVG(y) OVER () AS my, AVG(x) OVER () AS mx
            FROM pts
        )
        SELECT cp AS checkpoint, bound AS doc_id_bound, n_tokens, vocab,
               ROUND(beta, 6) AS heaps_beta,
               ROUND(EXP(my - beta * mx), 6) AS heaps_k
        FROM fit
    """,
    doc=(
        "HEAPS' LAW FIT — the vocabulary-growth companion to "
        "zipf_law_fit: V(N) ~ k * N^beta measured at "
        f"{_HEAPS_CHECKPOINTS} doc_id checkpoints (prefixes of the "
        "corpus in doc_id order), with (k, beta) from the closed-form "
        "OLS on the log-log points. beta well below 1 is the signature "
        "of natural language (sub-linear vocabulary growth); a corpus "
        "whose beta DRIFTS UP between snapshots is acquiring "
        "template/ID-like text — the growth-curve audit next to "
        "ngram_diversity_curve's within-corpus view. The scale trick is "
        "computing every prefix WITHOUT re-scanning per prefix: token "
        "mass per checkpoint comes from one (doc, n_tok) projection "
        "range-joined to the 10-row broadcast checkpoint table, and "
        "vocabulary per checkpoint from the per-term FIRST-OCCURRENCE "
        "table (one vocab-bounded aggregate) the same way — the corpus "
        "is read twice total, prefix count plays no role. The OLS runs "
        f"as whole-frame windows over the {_HEAPS_CHECKPOINTS}-row "
        "point table (bounded by construction); ln() of exact bigints "
        "keeps the fit engine-stable at 6dp."
    ),
    tags=("text", "llm", "stats", "profiling"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax")
    )
    cps = bounds.select(
        F.explode(
            F.sequence(F.lit(1), F.lit(_HEAPS_CHECKPOINTS))
        ).alias("cp_i"),
        "dmin",
        "dmax",
    ).select(
        F.col("cp_i").cast("bigint").alias("cp"),
        (
            F.col("dmin")
            + F.floor(
                F.col("cp_i")
                * (F.col("dmax") - F.col("dmin"))
                / float(_HEAPS_CHECKPOINTS)
            ).cast("bigint")
        ).alias("bound"),
    )
    doc_tok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    firsts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    toks_at = (
        doc_tok.join(F.broadcast(cps), doc_tok.doc_id <= cps.bound)
        .groupBy("cp", "bound")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    vocab_at = (
        firsts.join(F.broadcast(cps), firsts.first_doc <= cps.bound)
        .groupBy("cp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    pts = toks_at.join(vocab_at, "cp").select(
        "cp",
        "bound",
        "n_tokens",
        "vocab",
        F.log("n_tokens").alias("x"),
        F.log("vocab").alias("y"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_ = F.count(F.lit(1)).over(w_all)
    mx, my = F.avg("x").over(w_all), F.avg("y").over(w_all)
    beta = (F.sum(F.col("x") * F.col("y")).over(w_all) - n_ * mx * my) / (
        F.sum(F.col("x") * F.col("x")).over(w_all) - n_ * mx * mx
    )
    return pts.select(
        F.col("cp").alias("checkpoint"),
        F.col("bound").alias("doc_id_bound"),
        "n_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(my - beta * mx), 6).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# Good-Turing missing mass + Chao1 vocabulary richness (round-5i).
# ---------------------------------------------------------------------------


@register(
    "good_turing_vocab_coverage",
    oracle="""
        WITH tc AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        fof AS (
            SELECT cnt, CAST(COUNT(*) AS BIGINT) AS f_r
            FROM tc GROUP BY cnt
        ),
        agg AS (
            SELECT CAST(SUM(cnt * f_r) AS BIGINT) AS total_tokens,
                   CAST(SUM(f_r) AS BIGINT) AS vocab_size,
                   CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN f_r END), 0)
                        AS BIGINT) AS f1,
                   CAST(COALESCE(SUM(CASE WHEN cnt = 2 THEN f_r END), 0)
                        AS BIGINT) AS f2
            FROM fof
        )
        SELECT total_tokens, vocab_size, f1, f2,
               ROUND(f1 * 1.0 / total_tokens, 6) AS missing_mass,
               ROUND(1.0 - f1 * 1.0 / total_tokens, 6) AS coverage,
               ROUND(vocab_size + f1 * 1.0 * (f1 - 1) / (2 * (f2 + 1)), 2)
                   AS chao1_vocab
        FROM agg
    """,
    doc=(
        "GOOD-TURING MISSING MASS + CHAO1 VOCABULARY RICHNESS from the "
        "token frequency-of-frequencies: P(next token is unseen) ~ "
        "f1/N (the Good-Turing estimate from singleton mass), corpus "
        "coverage = 1 - missing mass, and the Chao1 lower bound on TRUE "
        "vocabulary size V + f1(f1-1)/(2(f2+1)) (the bias-corrected "
        "form, defined even when no doubletons exist) — the 'how much "
        "of the language have we actually seen' diagnostic that tells a "
        "corpus builder whether more crawling still buys vocabulary "
        "(complements heaps_law_fit's growth-curve view with a "
        "closed-form richness bound). Plan: token hash aggregate -> "
        "frequency-of-frequencies hash aggregate (cardinality = "
        "distinct counts, tiny) -> one-row reduction; everything is "
        "exact integer arithmetic until the two final divisions, so the "
        "cross-engine hash is exact. Shuffle bounded by |vocab|."
    ),
    tags=("text", "llm", "statistics"),
)
def good_turing_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    fof = tc.groupBy("cnt").agg(F.count(F.lit(1)).cast("bigint").alias("f_r"))
    agg = fof.agg(
        F.sum(F.col("cnt") * F.col("f_r")).cast("bigint").alias("total_tokens"),
        F.sum("f_r").cast("bigint").alias("vocab_size"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") == 1, F.col("f_r"))), F.lit(0)
        ).cast("bigint").alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") == 2, F.col("f_r"))), F.lit(0)
        ).cast("bigint").alias("f2"),
    )
    mm = F.col("f1") * F.lit(1.0) / F.col("total_tokens")
    return agg.select(
        "total_tokens",
        "vocab_size",
        "f1",
        "f2",
        F.round(mm, 6).alias("missing_mass"),
        F.round(F.lit(1.0) - mm, 6).alias("coverage"),
        F.round(
            F.col("vocab_size")
            + F.col("f1") * F.lit(1.0) * (F.col("f1") - 1) / (2 * (F.col("f2") + 1)),
            2,
        ).alias("chao1_vocab"),
    )


# ---------------------------------------------------------------------------
# Query-likelihood retrieval with Dirichlet smoothing (round-5j).
# ---------------------------------------------------------------------------

_QL_MU = 2000.0
_QL_K = 20


@register(
    "query_likelihood_dirichlet",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term IN ('spark', 'join', 'window')
            GROUP BY 1, 2
        ),
        dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
            FROM documents
        ),
        corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM toks
        ),
        cf AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
            FROM toks WHERE term IN ('spark', 'join', 'window')
            GROUP BY term
        ),
        bg AS (
            SELECT term, {_QL_MU} * (cf * 1.0 / c.total_tokens) AS mu_p
            FROM cf CROSS JOIN corpus c
        ),
        const AS (SELECT SUM(ln(mu_p)) AS c0, CAST(COUNT(*) AS BIGINT) AS nq
                  FROM bg),
        delta AS (
            SELECT tf.doc_id,
                   SUM(ln((tf.tf + b.mu_p) / b.mu_p)) AS d
            FROM tf JOIN bg b USING (term)
            GROUP BY tf.doc_id
        )
        SELECT dl.doc_id,
               ROUND(k.c0 + COALESCE(d.d, 0.0)
                     - k.nq * ln(dl.dl + {_QL_MU}), 6) AS ql_score
        FROM dl
        LEFT JOIN delta d USING (doc_id)
        CROSS JOIN const k
        ORDER BY ql_score DESC, doc_id ASC
        LIMIT {_QL_K}
    """,
    doc=(
        "QUERY-LIKELIHOOD retrieval with DIRICHLET SMOOTHING (mu="
        f"{_QL_MU:.0f}): score(d) = sum_t ln((tf + mu*P(t|C)) / (|d| + "
        "mu)) — the language-modeling ranking function that sits beside "
        "BM25 in every IR toolkit (Zhai-Lafferty smoothing). The scale "
        "trick is the SPARSE decomposition: the zero-tf background "
        "contribution sum_t ln(mu*P(t|C)) is a query-level CONSTANT, so "
        "only matching postings contribute a per-doc delta ln((tf+mu*p)/"
        "(mu*p)) and every document needs just its length — no dense "
        "doc x term matrix, same postings-only plan as bm25_top_docs "
        "(broadcast per-term background stats, one postings aggregate, "
        "TakeOrderedAndProject top-k). Scores rounded 6dp before the "
        "rank; ties broken on doc_id."
    ),
    tags=("text", "retrieval", "llm"),
)
def query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("dl")
    )
    corpus = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total_tokens"))
    cf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    )
    bg = cf.crossJoin(F.broadcast(corpus)).select(
        "term",
        (F.lit(_QL_MU) * (F.col("cf") * F.lit(1.0) / F.col("total_tokens"))).alias(
            "mu_p"
        ),
    )
    const = bg.agg(
        F.sum(F.log("mu_p")).alias("c0"),
        F.count(F.lit(1)).cast("bigint").alias("nq"),
    )
    delta = (
        tf.join(F.broadcast(bg), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.log((F.col("tf") + F.col("mu_p")) / F.col("mu_p"))).alias("d"))
    )
    return (
        dl.join(delta, "doc_id", "left")
        .crossJoin(F.broadcast(const))
        .select(
            "doc_id",
            F.round(
                F.col("c0")
                + F.coalesce(F.col("d"), F.lit(0.0))
                - F.col("nq") * F.log(F.col("dl") + F.lit(_QL_MU)),
                6,
            ).alias("ql_score"),
        )
        .orderBy(F.desc("ql_score"), F.asc("doc_id"))
        .limit(_QL_K)
    )


# ---------------------------------------------------------------------------
# Alias-method sampling table (round-5q): the O(1)-draw successor to the
# inverse-CDF table.
# ---------------------------------------------------------------------------


def _vose_alias(probs: list[tuple[str, float]]) -> list[tuple[str, float, str]]:
    """Vose's alias construction on (term, p) with sum(p)=1 — returns
    (term, cell_prob, alias_term). Deterministic: the small/large
    worklists are consumed in sorted-term order."""
    n = len(probs)
    scaled = {t: p * n for t, p in probs}
    small = sorted(t for t, v in scaled.items() if v < 1.0)
    large = sorted(t for t, v in scaled.items() if v >= 1.0)
    cell: dict[str, tuple[float, str]] = {}
    while small and large:
        s, g = small.pop(0), large[0]
        cell[s] = (scaled[s], g)
        scaled[g] = (scaled[g] + scaled[s]) - 1.0
        if scaled[g] < 1.0:
            large.pop(0)
            # keep worklists sorted for determinism
            small = sorted(small + [g])
    for t in small + large:
        cell[t] = (1.0, t)
    return [(t, cell[t][0], cell[t][1]) for t, _ in probs]


@register(
    "alias_method_sampling_table",
    oracle=None,  # the Vose construction is a sequential worklist
    # algorithm; pytest re-derives it and checks the EXACT mass-
    # reconstruction identity (tests/test_labeling.py)
    doc=(
        "ALIAS-METHOD SAMPLING TABLE (Walker/Vose) over the top-"
        "unigram^0.75 distribution: each of the n cells holds a "
        "cell-probability and an alias term such that drawing (uniform "
        "cell, uniform coin vs cell_prob) samples the target "
        "distribution in O(1) — the constant-time successor to "
        "unigram_sampling_table's inverse-CDF binary search, and what "
        "high-throughput negative samplers actually ship. The "
        "distributed work is the unigram aggregate + top-slice "
        "(TakeOrderedAndProject, reusing the registered table's "
        "normalization); the Vose worklist construction then runs "
        "driver-side on the 200-row bounded slice (PQ-codebook collect "
        "class) with sorted worklists so the table is deterministic. "
        "Correctness is the MASS RECONSTRUCTION identity — "
        "sum over cells of cell mass routed to term t equals p_t — "
        "which pytest checks to 1e-12; rows-only because a sequential "
        "worklist is not SQL-expressible."
    ),
    tags=("text", "llm", "sampling", "iterative"),
)
def alias_method_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from weather_stream_processor_spark.registry import _REGISTRY

    base = _REGISTRY["unigram_sampling_table"].builder(spark, sf_dir)
    rows = base.select("term", "c", "p_sample").collect()  # bounded top slice
    # renormalize the rounded 6dp probabilities so the alias invariant
    # holds exactly over what we publish
    tot = sum(r.p_sample for r in rows)
    probs = [(r.term, r.p_sample / tot) for r in rows]
    counts = {r.term: int(r.c) for r in rows}
    table = _vose_alias(probs)
    pmap = dict((t, p) for t, p in probs)
    out = [
        (i, t, counts[t], round(pmap[t], 6), round(cp, 6), alias)
        for i, (t, cp, alias) in enumerate(table)
    ]
    schema = StructType(
        [
            StructField("cell", LongType(), False),
            StructField("term", StringType(), False),
            StructField("c", LongType(), False),
            StructField("p_target", DoubleType(), False),
            StructField("cell_prob", DoubleType(), False),
            StructField("alias_term", StringType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Compression-ratio quality screen (round-6c): the zlib repetitiveness
# heuristic real corpus pipelines ship, as an Arrow pandas_udf.
# ---------------------------------------------------------------------------

_CR_LOW = 0.35  # below: near-pure repetition; the screen's flag threshold


@register(
    "compression_ratio_quality",
    oracle=None,  # zlib bytes are not reproducible in SQL; pytest checks
    # EXACT equality against python zlib at the same level and the
    # monotone repetition property (tests/test_labeling.py)
    doc=(
        "COMPRESSION-RATIO QUALITY SCREEN: per document, "
        "len(zlib(text)) / len(text) at level 6 — the cheap "
        "repetitiveness detector production corpus filters ship "
        "(boilerplate, keyword stuffing and template spam compress far "
        "below prose; the ratio is a one-number proxy for the "
        "entropy-rate screens Gopher formalizes), aggregated per "
        f"source with the share below {_CR_LOW} flagged. Runs as the "
        "repo's second SCALAR pandas_udf demonstration (after "
        "Jaro-Winkler): zlib is pure-Python-side, Arrow-batched, one "
        "call per batch inside an otherwise JVM plan — the pattern for "
        "any C-library scorer (fastText, tokenizers) at 100 TB; cost "
        "is linear in bytes and embarrassingly partition-parallel. "
        "Deterministic: zlib level 6 output bytes are stable across "
        "runs/platforms for a given zlib version, and the ratio is "
        "rounded 4dp."
    ),
    tags=("text", "llm", "quality", "pandas-udf"),
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    import zlib
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _cratio_batch(texts):
        return pd.Series(
            [
                round(len(zlib.compress(t.encode("utf-8"), 6)) / len(t), 4)
                if t
                else 1.0
                for t in texts
            ],
            dtype="float64",
        )

    cratio = pandas_udf(_cratio_batch, DoubleType())
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "doc_id", "source", cratio(F.col("text")).alias("ratio")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.sum(F.when(F.col("ratio") < _CR_LOW, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )


# --- Round-6: Kneser-Ney smoothed bigram model -------------------------------

_KN_D = 0.75  # absolute discount (Chen & Goodman's fixed-D variant)
_KN_MIN_COUNT = 5  # emit only bigrams seen >= this often (bounded output)


@register(
    "kneser_ney_bigram_probs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bi AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks
        ),
        bic AS (
            SELECT string_split(bigram, ' ')[1] AS w1,
                   string_split(bigram, ' ')[2] AS w2,
                   CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM bi GROUP BY 1, 2
        ),
        fw AS (
            SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS n1_fw
            FROM bic GROUP BY w1
        ),
        bw AS (
            SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bw FROM bic GROUP BY w2
        ),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bic)
        SELECT b.w1, b.w2, b.c_xy,
               ROUND(GREATEST(b.c_xy - {_KN_D}, CAST(0.0 AS DOUBLE)) / f.c1
                     + ({_KN_D} * f.n1_fw / f.c1)
                       * (CAST(w.n1_bw AS DOUBLE) / t.n_types), 6) AS prob_kn
        FROM bic b
        JOIN fw f USING (w1)
        JOIN bw w USING (w2)
        CROSS JOIN nt t
        WHERE b.c_xy >= {_KN_MIN_COUNT}
    """,
    doc=(
        "KNESER-NEY SMOOTHED BIGRAM PROBABILITIES (interpolated, fixed "
        f"absolute discount D={_KN_D} — Chen & Goodman 1999's reference "
        "formulation, the smoothing KenLM ships and CCNet-style corpus "
        "filters score with): P(w2|w1) = max(c(w1w2)-D,0)/c(w1) + "
        "D*N1+(w1,.)/c(w1) * Pcont(w2), where the continuation "
        "probability Pcont(w2) = N1+(.,w2)/|bigram types| asks how many "
        "CONTEXTS a word completes rather than how often it occurs — the "
        "insight that separates KN from add-k (bigram_lm_perplexity's "
        "baseline). Every count is one vocabulary-bounded hash aggregate "
        "off a single bigram explode: forward fan-out N1+(w1,.) and "
        "denominator c(w1) share a grouping, backward fan-in N1+(.,w2) "
        "is a second, the type total broadcasts as one row. Output "
        f"bounded to bigrams with count >= {_KN_MIN_COUNT}. The closing "
        "probability expression is written with the identical operator "
        "tree in both engines over exact integer counts, rounded at 6dp."
    ),
    tags=("text", "llm", "quality", "language-model"),
)
def kneser_ney_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bic = (
        docs.select(F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"))
        .select(
            F.split("bigram", " ")[0].alias("w1"),
            F.split("bigram", " ")[1].alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    )
    fw = bic.groupBy("w1").agg(
        F.sum("c_xy").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1_fw"),
    )
    bw = bic.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1_bw"))
    nt = bic.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    d = F.lit(_KN_D)
    return (
        bic.join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(nt))
        .filter(F.col("c_xy") >= _KN_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.greatest(F.col("c_xy") - d, F.lit(0.0).cast("double"))
                / F.col("c1")
                + (d * F.col("n1_fw") / F.col("c1"))
                * (F.col("n1_bw").cast("double") / F.col("n_types")),
                6,
            ).alias("prob_kn"),
        )
    )


# --- Round-6: degenerate-repetition loop detector ------------------------------

_LOOP_RUN_FLAG = 3  # a trigram repeated this many times consecutively = loop


@register(
    "repeated_ngram_loop_detector",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        g AS (
            SELECT doc_id,
                   [array_to_string(t[i:i+2], ' ')
                    FOR i IN range(1, len(t) - 1)] AS gs
            FROM toks WHERE len(t) >= 3
        ),
        pos AS (
            SELECT doc_id, unnest(gs) AS tri,
                   generate_subscripts(gs, 1) AS p
            FROM g
        ),
        flagged AS (
            SELECT doc_id, tri, p,
                   CASE WHEN LAG(tri) OVER w IS NULL
                             OR LAG(tri) OVER w <> tri
                        THEN 1 ELSE 0 END AS chg
            FROM pos
            WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        ),
        islands AS (
            SELECT doc_id, tri, p,
                   SUM(chg) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS island
            FROM flagged
        ),
        runs AS (
            SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS run_len
            FROM islands GROUP BY doc_id, island
        )
        SELECT doc_id,
               CAST(MAX(run_len) AS BIGINT) AS max_run,
               CAST(SUM(run_len) AS BIGINT) AS n_trigrams,
               CAST(MAX(run_len) >= {_LOOP_RUN_FLAG} AS INT) AS loop_flag
        FROM runs GROUP BY doc_id
    """,
    doc=(
        "DEGENERATE-REPETITION LOOP DETECTOR: per document, the longest "
        "run of CONSECUTIVE identical word trigrams — the signature of "
        "model-generated loop text ('the the the', repeated phrase "
        "cycles) that slips past distinct-shingle repetition ratios "
        "(repetition_quality_filter counts distinct reuse anywhere; "
        "this demands adjacency, which is what makes it a LOOP). "
        "Gaps-and-islands over the ordered trigram stream: one ordinal "
        "explode, a lag-based change flag, a running-sum island id, two "
        "bounded aggregations — all keyed by doc_id, so every window "
        "sorts within a document and nothing global exists; flag fires "
        f"at run >= {_LOOP_RUN_FLAG}. Pure integers."
    ),
    tags=("text", "llm", "quality"),
)
def repeated_ngram_loop_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    pos = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", F.posexplode(grams).alias("p0", "tri"))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "tri")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    flagged = pos.select(
        "doc_id",
        "tri",
        "p",
        F.when(
            F.lag("tri").over(w).isNull() | (F.lag("tri").over(w) != F.col("tri")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    islands = flagged.select(
        "doc_id",
        "p",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    runs = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return runs.groupBy("doc_id").agg(
        F.max("run_len").cast("bigint").alias("max_run"),
        F.sum("run_len").cast("bigint").alias("n_trigrams"),
        (F.max("run_len") >= _LOOP_RUN_FLAG).cast("int").alias("loop_flag"),
    )


# --- Round-6: tokenizer economics ----------------------------------------------

_FERT_SUBCHUNK = 4  # chars per fixed-width subword chunk (BPE-free proxy)


@register(
    "tokenizer_fertility_audit",
    oracle=f"""
        WITH tk AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
                   CAST(SUM((length(tok) + {_FERT_SUBCHUNK - 1})
                            // {_FERT_SUBCHUNK}) AS BIGINT) AS n_subwords
            FROM tk GROUP BY source
        )
        SELECT source, n_words, n_chars, n_subwords,
               CAST(n_subwords * 1000000 // n_words AS BIGINT)
                   AS fertility_e6,
               CAST(n_chars * 1000000 // n_subwords AS BIGINT)
                   AS chars_per_subword_e6
        FROM per
    """,
    doc=(
        "TOKENIZER FERTILITY AUDIT per source — the 'how many subword "
        "tokens does a word cost here' economics that decides mixture "
        "weights and per-source compute budgets (high-fertility sources "
        "burn context window; the multilingual-tokenizer literature's "
        f"fertility metric). Subword proxy: fixed {_FERT_SUBCHUNK}-char "
        "chunking, ceil(len/4) per word — deterministic and "
        "tokenizer-free, so the audit is exact integer arithmetic end "
        "to end (a real BPE slots into the same aggregate via the "
        "registered unigram machinery); fertility and chars-per-subword "
        "emitted as exact integer ppm ratios. One token explode, one "
        "source-keyed aggregate — map-side combine does almost all of "
        "it at any scale."
    ),
    tags=("text", "llm", "quality", "tokenizer"),
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    c = _FERT_SUBCHUNK
    per = tk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        F.sum(F.expr(f"(length(tok) + {c - 1}) div {c}"))
        .cast("bigint")
        .alias("n_subwords"),
    )
    return per.select(
        "source",
        "n_words",
        "n_chars",
        "n_subwords",
        F.expr("n_subwords * 1000000 div n_words").cast("bigint").alias(
            "fertility_e6"
        ),
        F.expr("n_chars * 1000000 div n_subwords").cast("bigint").alias(
            "chars_per_subword_e6"
        ),
    )


_BPE_TOPK = 20


@register(
    "bpe_pair_frequencies",
    oracle=f"""
        WITH tf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            WHERE tok <> '' GROUP BY tok
        ),
        marked AS (SELECT tok || '_' AS m, freq FROM tf),
        pairs AS (
            SELECT substr(m, i, 2) AS pair, SUM(freq) AS cnt
            FROM (SELECT m, freq, unnest(range(1, length(m))) AS i FROM marked)
            GROUP BY substr(m, i, 2)
        ),
        ranked AS (
            SELECT pair, CAST(cnt AS BIGINT) AS pair_count,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rn
            FROM pairs
        )
        SELECT pair, pair_count, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {_BPE_TOPK}
    """,
    doc=(
        "BPE TRAINER PAIR STATISTICS: the merge-candidate table one "
        "byte-pair-encoding training round computes — corpus-frequency-"
        "weighted counts of adjacent character pairs over the vocabulary "
        "(with the classic end-of-word marker '_', so 'e_' ranks word-"
        f"final e separately), top-{_BPE_TOPK} by count with "
        "deterministic tie-break; the argmax row IS the next BPE merge. "
        "The expensive sum is VOCABULARY-BOUNDED, not corpus-bounded: "
        "token frequencies aggregate the corpus once (the explode every "
        "text op pays), then the per-character explode runs over "
        "DISTINCT tokens only and re-weights by frequency — the same "
        "vocab-projection trick as the SimHash portable hash. Exact "
        "integer counts; at 100 TB the full BPE trainer is this "
        "aggregate iterated with merges applied to the (bounded) vocab "
        "between rounds."
    ),
    tags=("text", "llm", "tokenizer"),
)
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    marked = tf.select(F.concat(F.col("tok"), F.lit("_")).alias("m"), "freq")
    pairs = (
        marked.select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("m") - 1)).alias("i"),
            "m",
        )
        .select(F.expr("substr(m, i, 2)").alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BPE_TOPK)
        .select("pair", "pair_count", F.col("rn").cast("bigint").alias("rn"))
    )


# --- Round-6: keyness + windowed co-occurrence ---------------------------------

_KEY_TOPK = 5  # keywords per source


@register(
    "dunning_llr_keyness",
    oracle=f"""
        WITH tk AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk),
        per_src AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM tk GROUP BY 1
        ),
        cnt AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
            FROM tk GROUP BY 1, 2
        ),
        word_tot AS (
            SELECT tok, CAST(SUM(a) AS BIGINT) AS w FROM cnt GROUP BY tok
        ),
        cells AS (
            SELECT c.source, c.tok,
                   c.a AS a,
                   w.w - c.a AS b,
                   p.ns - c.a AS c,
                   t.n - w.w - p.ns + c.a AS d,
                   p.ns, w.w, t.n
            FROM cnt c
            JOIN word_tot w USING (tok)
            JOIN per_src p USING (source)
            CROSS JOIN tot t
        ),
        g2 AS (
            SELECT source, tok, a,
                   ROUND(2.0 * (
                       CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE) * n
                                                   / (CAST(w AS DOUBLE) * ns))
                            ELSE 0.0 END
                     + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE) * n
                                                   / (CAST(w AS DOUBLE) * (n - ns)))
                            ELSE 0.0 END
                     + CASE WHEN c > 0 THEN c * ln(CAST(c AS DOUBLE) * n
                                                   / (CAST(n - w AS DOUBLE) * ns))
                            ELSE 0.0 END
                     + CASE WHEN d > 0 THEN d * ln(CAST(d AS DOUBLE) * n
                                                   / (CAST(n - w AS DOUBLE) * (n - ns)))
                            ELSE 0.0 END), 6) AS g2
            FROM cells
        ),
        ranked AS (
            SELECT source, tok, a, g2,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY g2 DESC, tok
                   ) AS rn
            FROM g2
        )
        SELECT source, tok, a AS n_in_source, g2,
               CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {_KEY_TOPK}
    """,
    doc=(
        "DUNNING LOG-LIKELIHOOD KEYNESS (Dunning 1993 G^2 / Rayson-"
        "Garside keyword statistic — the corpus-linguistics standard for "
        "'which words characterize THIS source against the rest', far "
        "better calibrated than PMI or chi-square on sparse counts): "
        f"per source, the top-{_KEY_TOPK} tokens by the 2x2 "
        "source-vs-rest G^2 = 2*Sum O*ln(O/E), zero cells contributing "
        "zero by the standard convention. All four observed cells derive "
        "from two vocabulary-bounded aggregates (per-(source,token) "
        "counts + marginals — no second corpus pass); expected counts "
        "appear only inside the ln ratio, written with the identical "
        "operator tree in both engines over exact integer cells (the "
        "house ln-on-identical-integers pattern bigram_lm_perplexity "
        "established). Provenance complement to stylometry_source_delta: "
        "that compares function-word PROFILES, this surfaces the "
        "CONTENT words that give a source away."
    ),
    tags=("text", "llm", "statistics", "provenance"),
)
def dunning_llr_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    tot = tk.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per_src = tk.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    cnt = tk.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    word_tot = cnt.groupBy("tok").agg(F.sum("a").cast("bigint").alias("w"))
    cells = (
        cnt.join(word_tot, "tok")
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            "a",
            (F.col("w") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("c"),
            (F.col("n") - F.col("w") - F.col("ns") + F.col("a")).alias("d"),
            "ns",
            "w",
            "n",
        )
    )

    def term(o, num, den):
        return F.when(
            o > 0, o * F.log(num.cast("double") * F.col("n") / den)
        ).otherwise(F.lit(0.0))

    g2 = F.round(
        2.0
        * (
            term(F.col("a"), F.col("a"), F.col("w").cast("double") * F.col("ns"))
            + term(
                F.col("b"),
                F.col("b"),
                F.col("w").cast("double") * (F.col("n") - F.col("ns")),
            )
            + term(
                F.col("c"),
                F.col("c"),
                (F.col("n") - F.col("w")).cast("double") * F.col("ns"),
            )
            + term(
                F.col("d"),
                F.col("d"),
                (F.col("n") - F.col("w")).cast("double") * (F.col("n") - F.col("ns")),
            )
        ),
        6,
    )
    ranked = cells.select("source", "tok", "a", g2.alias("g2")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("g2"), F.asc("tok"))
        ),
    )
    return ranked.filter(F.col("rn") <= _KEY_TOPK).select(
        "source",
        "tok",
        F.col("a").alias("n_in_source"),
        "g2",
        F.col("rn").cast("bigint").alias("rn"),
    )


_SKIP_WIN = 2  # skip-gram context half-window (word2vec's classic +/-2)
_SKIP_MIN = 5  # min pair count emitted
_SKIP_TOPK = 30


@register(
    "skipgram_ppmi_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        pos AS (
            SELECT doc_id, unnest(t) AS w,
                   generate_subscripts(t, 1) AS p
            FROM toks
        ),
        pairs AS (
            SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2,
                   CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.p > a.p AND b.p <= a.p + {_SKIP_WIN}
            GROUP BY 1, 2
        ),
        uni AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY w
        ),
        tot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM pairs),
        ppmi AS (
            SELECT p.w1, p.w2, p.c_xy,
                   ROUND(GREATEST(
                       ln(CAST(p.c_xy AS DOUBLE) * t.n
                          / (CAST(u1.c AS DOUBLE) * u2.c)),
                       CAST(0.0 AS DOUBLE)), 6) AS ppmi
            FROM pairs p
            JOIN uni u1 ON u1.w = p.w1
            JOIN uni u2 ON u2.w = p.w2
            CROSS JOIN tot t
            WHERE p.c_xy >= {_SKIP_MIN}
        ),
        ranked AS (
            SELECT w1, w2, c_xy, ppmi,
                   ROW_NUMBER() OVER (ORDER BY ppmi DESC, w1, w2) AS rn
            FROM ppmi
        )
        SELECT w1, w2, c_xy, ppmi, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {_SKIP_TOPK}
    """,
    doc=(
        "SKIP-GRAM PPMI CO-OCCURRENCE (the word2vec/GloVe context "
        f"matrix, made explicit): unordered token pairs within a +/-"
        f"{_SKIP_WIN} window, scored by POSITIVE pointwise mutual "
        "information max(0, ln(c_xy*N / (c_x*c_y))) — Levy & Goldberg "
        "2014 showed skip-gram-with-negative-sampling implicitly "
        "factorizes exactly this matrix, which makes PPMI the "
        "embedding-free baseline for distributional similarity (the "
        "windowed complement of bigram_pmi_collocations' adjacency-only "
        "pairs). Plan: the position self-join is BAND-LIMITED per "
        f"document (b.p in (a.p, a.p+{_SKIP_WIN}]) — {_SKIP_WIN} rows "
        "per position, linear in corpus tokens, never a per-doc "
        "cartesian; counts are vocabulary-bounded aggregates, the pair "
        "total broadcasts, ln runs on identical exact integers in both "
        f"engines, top-{_SKIP_TOPK} with full deterministic "
        "tie-breaks."
    ),
    tags=("text", "llm", "statistics"),
)
def skipgram_ppmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pos = spread(docs, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    a = pos.alias("a")
    b = pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") > F.col("a.p"))
            & (F.col("b.p") <= F.col("a.p") + _SKIP_WIN),
        )
        .select(
            F.least(F.col("a.w"), F.col("b.w")).alias("w1"),
            F.greatest(F.col("a.w"), F.col("b.w")).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    )
    uni = pos.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = pairs.agg(F.sum("c_xy").cast("bigint").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    ppmi = (
        pairs.filter(F.col("c_xy") >= _SKIP_MIN)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.greatest(
                    F.log(
                        F.col("c_xy").cast("double")
                        * F.col("n")
                        / (F.col("c1").cast("double") * F.col("c2"))
                    ),
                    F.lit(0.0).cast("double"),
                ),
                6,
            ).alias("ppmi"),
        )
    )
    w = Window.orderBy(F.desc("ppmi"), F.asc("w1"), F.asc("w2"))
    return (
        ppmi.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SKIP_TOPK)
        .select("w1", "w2", "c_xy", "ppmi", F.col("rn").cast("bigint").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Two-regressor scaling-law fit (round 9): the Chinchilla-style OLS kernel.
# ---------------------------------------------------------------------------


@register(
    "scaling_law_ols_fit",
    oracle="""
        WITH cells AS (
            SELECT source, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source, lang
        ),
        vocab AS (
            SELECT source, lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT source, lang,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY source, lang
        ),
        pts AS (
            SELECT c.source, c.lang, c.n_docs, c.n_tokens, vb.v,
                   ln(c.n_docs) AS x1, ln(c.n_tokens) AS x2, ln(vb.v) AS y
            FROM cells c JOIN vocab vb USING (source, lang)
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
                   SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
                   SUM(x2 * x2) AS s22,
                   SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y,
                   SUM(y * y) AS syy
            FROM pts
        )
        SELECT m AS n_cells,
               ROUND((sy * (s11 * s22 - s12 * s12)
                      - s1 * (s1y * s22 - s12 * s2y)
                      + s2 * (s1y * s12 - s11 * s2y))
                     / (m * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS alpha,
               ROUND((m * (s1y * s22 - s12 * s2y)
                      - sy * (s1 * s22 - s12 * s2)
                      + s2 * (s1 * s2y - s1y * s2))
                     / (m * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS beta_docs,
               ROUND((m * (s11 * s2y - s1y * s12)
                      - s1 * (s1 * s2y - s1y * s2)
                      + sy * (s1 * s12 - s11 * s2))
                     / (m * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS beta_tokens
        FROM mom
    """,
    doc=(
        "TWO-REGRESSOR LOG-LOG OLS — the scaling-law regression kernel "
        "(Hoffmann et al. 2022 fit L(N, D) on model size and token "
        "count; Kaplan et al. 2020 likewise): here the capability proxy "
        "is per-(source, lang) vocabulary, fitted as ln V = alpha + "
        "beta_docs*ln(n_docs) + beta_tokens*ln(n_tokens) over the "
        "bounded source-x-lang cell grid — a bivariate Heaps surface "
        "that separates 'more documents' from 'longer documents' "
        "vocabulary growth, which the single-regressor heaps_law_fit "
        "cannot. The 3x3 normal equations are solved in closed form by "
        "Cramer's rule on ten whole-corpus moments, so the distributed "
        "work is exactly: one (source, lang) aggregate, one vocab-"
        "bounded distinct aggregate, and a 1-row moment reduction — no "
        "iteration, no driver-side solver. ln() runs on exact BIGINT "
        "cell counts (the heaps_law_fit determinism argument) and the "
        "three coefficients are the only rounded doubles (6dp, margin-"
        "audited). At 100 TB the cell grid is dimension-sized and the "
        "moment reduction is a map-side combine."
    ),
    tags=("text", "llm", "stats", "scaling"),
)
def scaling_law_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(t)).cast("bigint").alias("n_tokens"),
    )
    vocab = (
        docs.select("source", "lang", F.explode(t).alias("tok"))
        .groupBy("source", "lang")
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    pts = cells.join(vocab, ["source", "lang"]).select(
        F.log(F.col("n_docs")).alias("x1"),
        F.log(F.col("n_tokens")).alias("x2"),
        F.log(F.col("v")).alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m, s1, s2, sy = F.col("m"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        m * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det_a = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det_b = (
        m * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det_c = (
        m * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    return mom.select(
        m.alias("n_cells"),
        F.round(det_a / det, 6).alias("alpha"),
        F.round(det_b / det, 6).alias("beta_docs"),
        F.round(det_c / det, 6).alias("beta_tokens"),
    )


# ---------------------------------------------------------------------------
# Flesch readability panel: the syllable-heuristic corpus filter feature.
# ---------------------------------------------------------------------------


@register(
    "flesch_readability_panel",
    oracle="""
        WITH per_word AS (
            SELECT doc_id, source,
                   greatest(1,
                       length(regexp_replace(lower(w), '[aeiouy]+', '#', 'g'))
                       - length(regexp_replace(lower(w), '[aeiouy]+', '', 'g'))
                   ) AS syl
            FROM (SELECT doc_id, source,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents)
        ),
        per_doc AS (
            SELECT doc_id, source,
                   CAST(COUNT(*) AS BIGINT) AS words,
                   CAST(SUM(syl) AS BIGINT) AS syllables
            FROM per_word GROUP BY doc_id, source
        ),
        sent AS (
            SELECT doc_id,
                   greatest(1,
                       length(regexp_replace(text, '[.!?]+', '#', 'g'))
                       - length(regexp_replace(text, '[.!?]+', '', 'g'))
                   ) AS sentences
            FROM documents
        ),
        per_src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(words) AS BIGINT) AS words,
                   CAST(SUM(sentences) AS BIGINT) AS sentences,
                   CAST(SUM(syllables) AS BIGINT) AS syllables
            FROM per_doc JOIN sent USING (doc_id)
            GROUP BY source
        )
        SELECT source, n_docs, words, sentences, syllables,
               ROUND(206.835 - 1.015 * (words * 1.0 / sentences)
                             - 84.6 * (syllables * 1.0 / words), 6)
                   AS flesch_reading_ease,
               ROUND(0.39 * (words * 1.0 / sentences)
                     + 11.8 * (syllables * 1.0 / words) - 15.59, 6)
                   AS fk_grade_level
        FROM per_src
    """,
    doc=(
        "FLESCH READABILITY PANEL per source — the classic readability "
        "corpus-filter feature family (used by quality-filter stacks "
        "beside stopword/length heuristics, e.g. as a pre-training "
        "selection signal for educational-value screens): words per "
        "sentence and syllables per word feed Flesch Reading Ease "
        "(206.835 - 1.015*W/S - 84.6*Y/W) and the Flesch-Kincaid grade "
        "level. Syllables use the standard vowel-group heuristic, "
        "counted ENGINE-STABLY as the length delta between replacing "
        "each [aeiouy]+ run with one marker vs with nothing (split-"
        "semantics differ between engines at string edges; a pure "
        "regexp_replace length delta does not), with the floor-1-per-"
        "word correction; sentences count [.!?]+ terminator runs with "
        "the same delta trick, floored at 1 per document. The hashed "
        "per-source counts (n_docs, words, sentences, syllables) are "
        "EXACT BIGINTs; the two readability scores are one mirrored "
        "rounded expression each. Plan: one token explode -> per-doc "
        "aggregate (map-side combined, doc-local keys), one projection "
        "for sentence counts joined on doc_id, one |sources|-row "
        "rollup — linear in corpus tokens, nothing global, no windows; "
        "at 100 TB this is the same shape as the quality_scores pass."
    ),
    tags=("text", "llm", "quality", "readability"),
)
def flesch_readability_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def _run_count(col, pat):
        return F.length(F.regexp_replace(col, pat, "#")) - F.length(
            F.regexp_replace(col, pat, "")
        )

    per_word = docs.select(
        "doc_id",
        "source",
        F.explode(tokens(F.col("text"))).alias("w"),
    ).select(
        "doc_id",
        "source",
        F.greatest(F.lit(1), _run_count(F.lower(F.col("w")), "[aeiouy]+")).alias(
            "syl"
        ),
    )
    per_doc = per_word.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("words"),
        F.sum("syl").cast("bigint").alias("syllables"),
    )
    sent = docs.select(
        "doc_id",
        F.greatest(F.lit(1), _run_count(F.col("text"), "[.!?]+")).alias(
            "sentences"
        ),
    )
    per_src = (
        per_doc.join(sent, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("words").cast("bigint").alias("words"),
            F.sum("sentences").cast("bigint").alias("sentences"),
            F.sum("syllables").cast("bigint").alias("syllables"),
        )
    )
    w_per_s = F.col("words") * F.lit(1.0) / F.col("sentences")
    y_per_w = F.col("syllables") * F.lit(1.0) / F.col("words")
    return per_src.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * w_per_s - F.lit(84.6) * y_per_w, 6
        ).alias("flesch_reading_ease"),
        F.round(
            F.lit(0.39) * w_per_s + F.lit(11.8) * y_per_w - F.lit(15.59), 6
        ).alias("fk_grade_level"),
    )


# ---------------------------------------------------------------------------
# Lexical-diversity statistics (round 9): Yule's K + Simpson's D.
# ---------------------------------------------------------------------------


@register(
    "yule_k_lexical_diversity",
    oracle="""
        WITH tc AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY source, tok
        ),
        fof AS (
            SELECT source, cnt, CAST(COUNT(*) AS BIGINT) AS f_r
            FROM tc GROUP BY source, cnt
        ),
        agg AS (
            SELECT source,
                   CAST(SUM(cnt * f_r) AS BIGINT) AS n_tokens,
                   CAST(SUM(f_r) AS BIGINT) AS vocab_size,
                   CAST(SUM(cnt * cnt * f_r) AS BIGINT) AS m2,
                   CAST(SUM(cnt * (cnt - 1) * f_r) AS BIGINT) AS rep_pairs,
                   CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN f_r END), 0)
                        AS BIGINT) AS hapax
            FROM fof GROUP BY source
        )
        SELECT source, n_tokens, vocab_size, hapax,
               ROUND(10000.0 * (m2 - n_tokens)
                     / (n_tokens * 1.0 * n_tokens), 6) AS yule_k,
               ROUND(rep_pairs * 1.0
                     / (n_tokens * 1.0 * (n_tokens - 1)), 6) AS simpson_d,
               ROUND(hapax * 1.0 / vocab_size, 6) AS hapax_share
        FROM agg
    """,
    doc=(
        "YULE'S K + SIMPSON'S D lexical diversity per source — the two "
        "classic LENGTH-INVARIANT repeat-rate statistics (type-token "
        "ratio falls mechanically with corpus size, which is exactly "
        "why Yule built K on the second moment of the frequency "
        "spectrum instead): K = 10^4 (sum m^2 V_m - N)/N^2 over the "
        "frequency-of-frequencies V_m, Simpson's D = the probability "
        "two tokens drawn without replacement are the same type = "
        "sum m(m-1)V_m / (N(N-1)), plus the hapax share (singleton "
        "types / vocabulary) as the fresh-vocabulary gauge. High K / "
        "high D = repetitive template-like text; the per-source panel "
        "is the screen that catches a boilerplate-heavy source the "
        "compression-ratio screen sees only per-document. Every moment "
        "is an exact BIGINT off the bounded frequency-of-frequencies "
        "grid (the good_turing/heaps machinery); doubles appear only "
        "in the final rounded divisions, so the hash is safe by "
        "construction. Plan: token hash aggregate -> per-source "
        "frequency-of-frequencies aggregate (bounded by distinct "
        "counts) -> per-source one-row reduction; at 100 TB the token "
        "aggregate is the only corpus-scale shuffle and it is "
        "map-side-combined."
    ),
    tags=("text", "llm", "statistics", "quality"),
)
def yule_k_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    fof = tc.groupBy("source", "cnt").agg(
        F.count(F.lit(1)).cast("bigint").alias("f_r")
    )
    agg = fof.groupBy("source").agg(
        F.sum(F.col("cnt") * F.col("f_r")).cast("bigint").alias("n_tokens"),
        F.sum("f_r").cast("bigint").alias("vocab_size"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("f_r"))
        .cast("bigint")
        .alias("m2"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1) * F.col("f_r"))
        .cast("bigint")
        .alias("rep_pairs"),
        F.coalesce(F.sum(F.when(F.col("cnt") == 1, F.col("f_r"))), F.lit(0))
        .cast("bigint")
        .alias("hapax"),
    )
    n = F.col("n_tokens")
    return agg.select(
        "source",
        "n_tokens",
        "vocab_size",
        "hapax",
        F.round(
            F.lit(10000.0) * (F.col("m2") - n) / (n * F.lit(1.0) * n), 6
        ).alias("yule_k"),
        F.round(
            F.col("rep_pairs") * F.lit(1.0) / (n * F.lit(1.0) * (n - 1)), 6
        ).alias("simpson_d"),
        F.round(F.col("hapax") * F.lit(1.0) / F.col("vocab_size"), 6).alias(
            "hapax_share"
        ),
    )


# ---------------------------------------------------------------------------
# Nucleus (top-p) vocabulary truncation statistics (round 9).
# ---------------------------------------------------------------------------

_NUCLEUS_P_NUM, _NUCLEUS_P_DEN = 9, 10  # p = 0.9 as an exact rational


@register(
    "nucleus_topp_vocab",
    oracle=f"""
        WITH tc AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY source, tok
        ),
        fof AS (
            SELECT source, cnt, CAST(COUNT(*) AS BIGINT) AS f_r
            FROM tc GROUP BY source, cnt
        ),
        tot AS (
            SELECT source,
                   CAST(SUM(cnt * f_r) AS BIGINT) AS n_tokens,
                   CAST(SUM(f_r) AS BIGINT) AS vocab_size
            FROM fof GROUP BY source
        ),
        cum AS (
            SELECT source, cnt, f_r,
                   CAST(COALESCE(SUM(f_r) OVER w, 0) AS BIGINT)
                       AS types_above,
                   CAST(COALESCE(SUM(cnt * f_r) OVER w, 0) AS BIGINT)
                       AS mass_above
            FROM fof
            WINDOW w AS (PARTITION BY source ORDER BY cnt DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        hit AS (
            SELECT c.source, c.cnt AS boundary_freq, c.f_r, c.types_above,
                   c.mass_above, t.n_tokens, t.vocab_size,
                   CAST(FLOOR(({_NUCLEUS_P_NUM} * t.n_tokens
                               + {_NUCLEUS_P_DEN} - 1) * 1.0
                              / {_NUCLEUS_P_DEN}) AS BIGINT) AS target
            FROM cum c JOIN tot t USING (source)
        )
        SELECT source, n_tokens, vocab_size, boundary_freq,
               CAST(types_above
                    + FLOOR((target - mass_above + boundary_freq - 1) * 1.0
                            / boundary_freq) AS BIGINT) AS p90_vocab,
               ROUND((types_above
                      + FLOOR((target - mass_above + boundary_freq - 1) * 1.0
                              / boundary_freq)) * 1.0 / vocab_size, 6)
                   AS p90_vocab_share,
               CAST(mass_above
                    + FLOOR((target - mass_above + boundary_freq - 1) * 1.0
                            / boundary_freq) * boundary_freq
                    AS BIGINT) AS covered_mass
        FROM hit
        WHERE mass_above < target
          AND mass_above + boundary_freq * f_r >= target
    """,
    doc=(
        "NUCLEUS (TOP-P) VOCABULARY TRUNCATION statistics per source: "
        "the smallest number of most-frequent types whose combined "
        "token mass reaches p=0.9 of the source — the corpus-side twin "
        "of nucleus sampling's vocabulary cut and the 'how head-heavy "
        "is this source' diagnostic (a tiny p90 vocabulary = template "
        "text; a p90 share near the full vocabulary = flat, diverse "
        "usage). Exact integer arithmetic throughout: the target is "
        "ceil(9N/10) as an integer, cumulative type/mass counts run "
        "over the frequency-of-frequencies grid in descending-frequency "
        "order (never over tokens or types), and the partial take at "
        "the boundary frequency is an integer ceiling division — no "
        "float enters until the final rounded share. The cumulative "
        "window is PARTITIONED by source and ordered over the distinct-"
        "frequency grid, whose cardinality is O(sqrt(source tokens)) "
        "(a frequency f needs f tokens, so distinct frequencies are "
        "bounded by the square root of the mass) — the documented-"
        "bounded window class. One corpus-scale map-side-combined "
        "token aggregate; everything after is grid-sized."
    ),
    tags=("text", "llm", "statistics", "window"),
)
def nucleus_topp_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    fof = tc.groupBy("source", "cnt").agg(
        F.count(F.lit(1)).cast("bigint").alias("f_r")
    )
    tot = fof.groupBy("source").agg(
        F.sum(F.col("cnt") * F.col("f_r")).cast("bigint").alias("n_tokens"),
        F.sum("f_r").cast("bigint").alias("vocab_size"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("cnt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = fof.select(
        "source",
        "cnt",
        "f_r",
        F.coalesce(F.sum("f_r").over(w), F.lit(0))
        .cast("bigint")
        .alias("types_above"),
        F.coalesce(F.sum(F.col("cnt") * F.col("f_r")).over(w), F.lit(0))
        .cast("bigint")
        .alias("mass_above"),
    )
    hit = cum.join(F.broadcast(tot), "source").withColumn(
        "target",
        F.floor(
            (
                F.lit(_NUCLEUS_P_NUM) * F.col("n_tokens")
                + F.lit(_NUCLEUS_P_DEN - 1)
            )
            * F.lit(1.0)
            / F.lit(_NUCLEUS_P_DEN)
        ).cast("bigint"),
    )
    take = F.floor(
        (F.col("target") - F.col("mass_above") + F.col("cnt") - 1)
        * F.lit(1.0)
        / F.col("cnt")
    ).cast("bigint")
    return (
        hit.filter(
            (F.col("mass_above") < F.col("target"))
            & (F.col("mass_above") + F.col("cnt") * F.col("f_r") >= F.col("target"))
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            F.col("cnt").alias("boundary_freq"),
            (F.col("types_above") + take).cast("bigint").alias("p90_vocab"),
            F.round(
                (F.col("types_above") + take)
                * F.lit(1.0)
                / F.col("vocab_size"),
                6,
            ).alias("p90_vocab_share"),
            (F.col("mass_above") + take * F.col("cnt"))
            .cast("bigint")
            .alias("covered_mass"),
        )
    )


@register(
    "theil_inequality_decomposition",
    oracle="""
        WITH grid AS (
            -- (source, n_chars) grid: n_chars is a bounded integer
            -- domain, so the x*ln(x) sum runs over the grid, never raw
            -- rows — the same quantized-grid trick as the KS family
            SELECT source, CAST(n_chars AS BIGINT) AS x,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM documents WHERE n_chars > 0
            GROUP BY source, n_chars
        ),
        g AS (
            SELECT source,
                   CAST(SUM(cnt) AS BIGINT) AS n_g,
                   CAST(SUM(cnt * x) AS BIGINT) AS s_g,
                   SUM(cnt * x * ln(x * 1.0)) AS xl_g
            FROM grid GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(s_g) AS BIGINT) AS s,
                   SUM(xl_g) AS xl
            FROM g
        ),
        parts AS (
            SELECT g.source, g.n_g, g.s_g,
                   g.xl_g / g.s_g - ln(g.s_g * 1.0 / g.n_g) AS theil_g,
                   (g.s_g * 1.0 / t.s)
                       * ln((g.s_g * 1.0 / g.n_g) / (t.s * 1.0 / t.n))
                       AS between_term,
                   (g.s_g * 1.0 / t.s)
                       * (g.xl_g / g.s_g - ln(g.s_g * 1.0 / g.n_g))
                       AS within_term,
                   t.xl / t.s - ln(t.s * 1.0 / t.n) AS theil_total
            FROM g CROSS JOIN tot t
        )
        SELECT source, n_g AS n_docs, s_g AS total_chars,
               ROUND(theil_g, 6) AS theil_within_source,
               ROUND(between_term, 6) AS between_contribution,
               ROUND(within_term, 6) AS within_contribution,
               ROUND(theil_total, 6) AS theil_total,
               ROUND(SUM(between_term) OVER (), 6) AS theil_between,
               ROUND(SUM(within_term) OVER (), 6) AS theil_within
        FROM parts
    """,
    doc=(
        "THEIL-T INEQUALITY DECOMPOSITION of document length (n_chars) "
        "by source: the inequality measure the registered Gini/Lorenz "
        "pair CANNOT provide — Theil's T = (1/N) sum (x/mu) ln(x/mu) "
        "is ADDITIVELY DECOMPOSABLE (Theil 1967): T_total = T_between "
        "+ T_within exactly, so the report answers 'is corpus length "
        "inequality driven by sources having different typical lengths "
        "(between) or by spread inside each source (within)' — the "
        "question that decides whether length-balancing a training mix "
        "should reweight SOURCES or re-chunk DOCUMENTS. Per-source "
        "rows carry the within-source Theil, each source's "
        "share-weighted contribution to both components, and the "
        "global T/between/within (the identity is replay-tested). "
        "x*ln(x) sums run over the bounded (source, n_chars) GRID — "
        "one conditional-count aggregate, never a per-row float sum "
        "over the corpus; counts and char sums are exact BIGINTs; "
        "ln on identical integer-valued doubles in both engines "
        "(theils_u precedent). Zero-length docs excluded, mirrored."
    ),
    tags=("text", "llm", "statistics", "quality", "window"),
)
def theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grid = (
        docs.filter(F.col("n_chars") > 0)
        .groupBy("source", F.col("n_chars").cast("bigint").alias("x"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    g = grid.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_g"),
        F.sum(F.col("cnt") * F.col("x")).cast("bigint").alias("s_g"),
        F.sum(
            F.col("cnt") * F.col("x") * F.log(F.col("x") * F.lit(1.0))
        ).alias("xl_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("xl_g").alias("xl"),
    )
    j = g.crossJoin(F.broadcast(tot))
    mu_g = F.col("s_g") * F.lit(1.0) / F.col("n_g")
    mu = F.col("s") * F.lit(1.0) / F.col("n")
    theil_g = F.col("xl_g") / F.col("s_g") - F.log(mu_g)
    share = F.col("s_g") * F.lit(1.0) / F.col("s")
    between = share * F.log(mu_g / mu)
    within = share * theil_g
    theil_total = F.col("xl") / F.col("s") - F.log(mu)
    parts = j.select(
        "source",
        "n_g",
        "s_g",
        theil_g.alias("theil_g"),
        between.alias("between_term"),
        within.alias("within_term"),
        theil_total.alias("theil_total"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return parts.select(
        "source",
        F.col("n_g").alias("n_docs"),
        F.col("s_g").alias("total_chars"),
        F.round(F.col("theil_g"), 6).alias("theil_within_source"),
        F.round(F.col("between_term"), 6).alias("between_contribution"),
        F.round(F.col("within_term"), 6).alias("within_contribution"),
        F.round(F.col("theil_total"), 6).alias("theil_total"),
        F.round(F.sum("between_term").over(w_all), 6).alias("theil_between"),
        F.round(F.sum("within_term").over(w_all), 6).alias("theil_within"),
    )
