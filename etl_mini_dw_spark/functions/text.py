"""Text-analysis operators over the ``documents`` table (extension M8b).

Beyond-reference capability for large-scale training-data pipelines:
language ID (stopword-hit heuristic), quality scoring, token counting
(regex, BPE-ish word/number/symbol classes), and document
fingerprinting. Everything is built-in Spark SQL functions — JVM-side,
whole-stage-codegen'd, zero Python UDFs — so at 100 TB these run as
narrow map-only stages with full column pruning (only ``text`` +
``doc_id`` are read).

Each operator has a value-identical DuckDB mirror for the oracle gate;
ratios are double IEEE expressions evaluated in the same order on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.sources.tables import fanout_scan, load_table, stage_memo

TOKEN_RE = "[A-Za-z]+|[0-9]+"
PUNCT_RE = "[.,;:!?]"
WORD_RE = "[a-z]+"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "fr": ["le", "la", "et", "de", "un"],
    "es": ["el", "los", "y", "de", "un"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def _tokens() -> F.Column:
    return F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)


def _token_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, toks) — lowercased TOKEN_RE tokens,
    stage-memoized per (session, sf-dir) like the dedup shingle frames:
    the regex battery is the dominant cost of every token-level query,
    and lang-id / vocab / postings / heavy-hitters all consume the same
    array. Checkpointing also stops projection collapse from inlining
    the regex into each downstream reference (lang-id references the
    array once per language — 5× tokenization without this)."""

    def build() -> DataFrame:
        return (
            fanout_scan(spark, load_table(spark, sf_dir, "documents"))
            .select(
                "doc_id",
                "source",
                "lang",
                F.transform(_tokens(), lambda t: F.lower(t)).alias("toks"),
            )
            .localCheckpoint(eager=False)
        )

    return stage_memo(spark, sf_dir, "text_tok_lower", build)


def _word_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, w) — WORD_RE over lowercased text,
    stage-memoized; the shared staging for the bigram/tf-idf/repetition/
    histogram family and the BPE reports."""

    def build() -> DataFrame:
        return (
            fanout_scan(spark, load_table(spark, sf_dir, "documents"))
            .select(
                "doc_id",
                "source",
                "lang",
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0).alias("w"),
            )
            .localCheckpoint(eager=False)
        )

    return stage_memo(spark, sf_dir, "text_word_lower", build)


def quality_score_col() -> F.Column:
    """The shared quality expression (identical tree in text_stats and the
    curation operators — keep the two consumers value-locked)."""
    n_tokens = F.size(_tokens())
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    punct_ratio = punct.cast("double") / n_chars.cast("double")
    return F.round(
        F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(50.0)) * (F.lit(1.0) - punct_ratio),
        6,
    )


QUALITY_SQL = (
    f"round(least(1.0, CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS DOUBLE) / 50.0)"
    f" * (1.0 - CAST(length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))"
    f" AS DOUBLE) / CAST(length(text) AS DOUBLE)), 6)"
)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats + quality score (length/punct/token ratios)."""
    docs = fanout_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = _tokens()
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    quality = quality_score_col()
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_actual"),
        n_tokens.cast("bigint").alias("n_tokens"),
        punct.cast("bigint").alias("n_punct"),
        quality.alias("quality_score"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS BIGINT)
         AS n_punct,
       round(least(1.0, CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS DOUBLE) / 50.0)
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
                           AS DOUBLE) / CAST(length(text) AS DOUBLE)), 6) AS quality_score
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-hit language ID heuristic; ties break alphabetically."""
    out = _token_frame(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_label"), F.col("toks").alias("_toks")
    )
    for lang, words in STOPWORDS.items():
        in_list = " OR ".join(f"t = '{w}'" for w in words)
        out = out.withColumn(
            f"hits_{lang}",
            F.expr(f"size(filter(_toks, t -> {in_list}))").cast("bigint"),
        )
    # argmax with deterministic alphabetical tie-break
    langs = sorted(STOPWORDS)
    best = F.col(f"hits_{langs[0]}")
    for lang in langs[1:]:
        best = F.greatest(best, F.col(f"hits_{lang}"))
    pred = None
    for lang in langs:
        cond = F.col(f"hits_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return out.withColumn("lang_pred", pred).drop("_toks")


def lang_id_sql() -> str:
    hit_cols = []
    for lang, words in STOPWORDS.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"CAST(len(list_filter(list_transform(regexp_extract_all(text, '{TOKEN_RE}'),"
            f" t -> lower(t)), t -> t IN ({in_list}))) AS BIGINT) AS hits_{lang}"
        )
    langs = sorted(STOPWORDS)
    best = f"greatest({', '.join(f'hits_{la}' for la in langs)})"
    pred = "CASE " + " ".join(f"WHEN hits_{la} = {best} THEN '{la}'" for la in langs) + " END"
    return f"""
    WITH hits AS (
      SELECT doc_id, lang AS lang_label, {", ".join(hit_cols)}
      FROM documents
    )
    SELECT doc_id, lang_label, {", ".join(f"hits_{la}" for la in langs)},
           {pred} AS lang_pred
    FROM hits
    """


def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token accounting per source (the budget question every
    training-data pipeline asks)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).cast("bigint").alias("total_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


TOKEN_COUNT_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased, space-collapsed text)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


TOP_BIGRAMS_K = 50


def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K word bigrams — the n-gram frequency table every
    corpus analysis starts from.

    Plan shape: regex word extraction and bigram assembly happen ONCE
    per document in a map stage whose output is lazily checkpointed —
    the explode that follows would otherwise re-evaluate the pipelined
    array expression per OUTPUT bigram (the Generate trap in CLAUDE.md).
    The count is a plain hash aggregate with map-side combine; K rows
    survive to the driver-side sort.
    """
    docs = _word_frame(spark, sf_dir)
    bigrams = docs.select(
        F.when(
            F.size("w") >= 2,
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"),
        )
        .otherwise(F.expr("array()"))
        .alias("bg")
    ).localCheckpoint(eager=False)
    return (
        bigrams.select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(TOP_BIGRAMS_K)
    )


TOP_BIGRAMS_SQL = f"""
WITH words AS (
  SELECT regexp_extract_all(lower(text), '{WORD_RE}') AS w FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
                               i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM words
)
SELECT bigram, COUNT(*) AS n FROM bigrams
GROUP BY bigram ORDER BY n DESC, bigram LIMIT {TOP_BIGRAMS_K}
"""


TFIDF_TOP_TERMS = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K characteristic terms per document by tf·idf.

    Uses the LINEAR idf variant ``score = tf × N / df`` instead of the
    log form: every input to the score is an exact integer (term
    frequency, corpus size, document frequency), so the ranking is
    bit-identical across engines and cluster layouts — ``ln`` comes from
    libm and legitimately differs by 1 ulp between platforms, which is
    exactly the kind of nondeterminism a reproducible corpus pipeline
    (and the oracle gate) can't tolerate. Monotone in tf and 1/df like
    the log form, so the per-document ranking is the standard one.

    Plan: explode over a checkpointed word array (Generate trap), one
    (doc, term) hash aggregate, one term-keyed df aggregate, a broadcast
    of the 1-row corpus size, and a per-doc top-K window. Every shuffle
    key (doc, term) is high-cardinality — no hot spots at scale.
    """
    from pyspark.sql import Window

    docs = _word_frame(spark, sf_dir)
    words = docs.select("doc_id", F.explode("w").alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf, df,
         CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
  FROM tf JOIN df ON tf.term = df.term, n
)
SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored)
WHERE rank <= {TFIDF_TOP_TERMS}
"""


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition quality signals.

    The standard repetition filters a corpus pipeline applies before
    training (Rae et al. 2021 §A1.1 use line/ngram duplication fractions;
    adapted here to the word level since this corpus has no line
    structure):

    - ``dup_token_ratio``   — 1 − distinct/total tokens (type-token
      complement; high ⇒ the doc repeats a small vocabulary)
    - ``top_token_ratio``   — share of the single most frequent token
    - ``dup_bigram_ratio``  — 1 − distinct/total word bigrams (catches
      looping phrases that token-level stats miss)

    Plan: one regex word extraction per doc into a lazily-checkpointed
    array column (so the three signal expressions reference the
    materialized array instead of re-running the regex — the
    no-expensive-expr-re-evaluation rule), then a single map-only
    projection. Per-doc work is O(len·distinct) on bounded documents; no
    shuffle at any scale.
    """
    docs = _word_frame(spark, sf_dir)
    staged = docs.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.expr(
            "array_max(transform(array_distinct(w), t -> size(filter(w, x -> x = t))))"
        ).alias("top_count"),
        F.when(
            F.size("w") >= 2,
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"),
        )
        .otherwise(F.expr("array()"))
        .alias("bg"),
    ).localCheckpoint(eager=False)  # bg referenced 3× below; stop projection collapse
    n_t = F.col("n_tokens").cast("double")
    n_bg = F.size("bg").cast("double")
    return staged.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.lit(1.0) - F.col("n_distinct").cast("double") / n_t, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_ratio"),
        F.when(F.col("n_tokens") > 0, F.round(F.col("top_count").cast("double") / n_t, 6))
        .otherwise(F.lit(0.0))
        .alias("top_token_ratio"),
        F.when(
            F.size("bg") > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("bg")).cast("double") / n_bg, 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


REPETITION_SIGNALS_SQL = f"""
WITH words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS w FROM documents
),
staged AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         len(list_distinct(w)) AS n_distinct,
         list_max(list_transform(list_distinct(w),
                                 t -> len(list_filter(w, x -> x = t)))) AS top_count,
         list_transform(range(1, greatest(len(w), 1)),
                        i -> w[i] || ' ' || w[i+1]) AS bg
  FROM words
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_tokens > 0
            THEN round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS dup_token_ratio,
       CASE WHEN n_tokens > 0
            THEN round(CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS top_token_ratio,
       CASE WHEN len(bg) > 0
            THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                           / CAST(len(bg) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_bigram_ratio
FROM staged
"""


LENGTH_BUCKET_WIDTH = 25


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram per source — the corpus-composition summary
    behind every mixture/length-filter decision. Integer bucket
    arithmetic (floor to a fixed width) so bucket edges are identical on
    both engines; one hash aggregate with map-side combine, grouping key
    cardinality = |sources| × |buckets| (tiny), no skew.
    """
    docs = _word_frame(spark, sf_dir)
    n_tokens = F.size("w")
    bucket = (n_tokens / F.lit(LENGTH_BUCKET_WIDTH)).cast("bigint") * LENGTH_BUCKET_WIDTH
    return (
        docs.select("source", bucket.alias("token_bucket"))
        .groupBy("source", "token_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DOC_LENGTH_HISTOGRAM_SQL = f"""
SELECT source,
       CAST(len(regexp_extract_all(lower(text), '{WORD_RE}'))
            // {LENGTH_BUCKET_WIDTH} AS BIGINT) * {LENGTH_BUCKET_WIDTH} AS token_bucket,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


TOP_POSTINGS = 50
POSTINGS_HEAD = 20


def token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-token document frequency, total term
    frequency, and the head of the sorted posting list.

    The IR/decontamination primitive: two shuffles — (token, doc_id) for
    per-doc tf, then token for the corpus rollup — both partial-
    aggregable. Posting lists are capped to the first ``POSTINGS_HEAD``
    doc_ids (df/total_tf stay exact over ALL postings) so no row grows
    with corpus size; at 100 TB the full postings would go to a bucketed
    table keyed by token instead of an in-row array. Token array is
    checkpointed ahead of the explode (Generate re-evaluation rule).

    The posting head is projected as a comma-joined STRING, not a raw
    array: compared output must never contain ArrayType/MapType columns
    (the driver's pandas canonicalizer cannot sort list cells — the one
    r4 driver failure; see tests/test_output_contract.py).
    """
    docs = _token_frame(spark, sf_dir)
    per = (
        docs.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    head = F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_HEAD)
    agg = per.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(head, lambda x: x.cast("string")), ","
        ).alias("postings_head"),
    )
    return agg.orderBy(F.col("df").desc(), "token").limit(TOP_POSTINGS)


TOKEN_POSTINGS_SQL = f"""
WITH tok AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
  FROM documents
),
per AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
agg AS (
  SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
         array_to_string((list_sort(list(doc_id)))[1:{POSTINGS_HEAD}], ',')
           AS postings_head
  FROM per GROUP BY 1
)
SELECT token, df, total_tf, postings_head
FROM agg ORDER BY df DESC, token LIMIT {TOP_POSTINGS}
"""


def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics per source: token count, distinct vocabulary,
    type-token ratio — the Heaps-law corpus signal that flags template/
    boilerplate sources (tiny vocabulary, huge token count).

    Two partial-aggregable shuffles: (source, token) then source.
    """
    docs = _token_frame(spark, sf_dir)
    per = (
        docs.select("source", F.explode("toks").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return per.groupBy("source").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_vocab"),
        (F.count(F.lit(1)).cast("double") / F.sum("tf")).alias("type_token_ratio"),
    )


VOCAB_STATS_SQL = f"""
WITH tok AS (
  SELECT source, lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
  FROM documents
),
per AS (SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens, COUNT(*) AS n_vocab,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS type_token_ratio
FROM per GROUP BY source
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA: confusion counts of labeled vs predicted language —
    the acceptance gate before trusting lang-ID for corpus routing."""
    pred = lang_id(spark, sf_dir)
    return pred.groupBy(
        F.col("lang_label"), F.col("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def langid_confusion_sql() -> str:
    return f"""
WITH pred AS ({lang_id_sql()})
SELECT lang_label, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
"""


# --- heavy hitters: Misra-Gries summary + exact candidate recount -----------
HH_K = 200  # report tokens whose count exceeds n_total / HH_K
HH_CAPACITY = 4 * HH_K  # Misra-Gries counters kept per partition


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: every token with frequency > n/``HH_K``,
    found WITHOUT a full-vocabulary shuffle.

    The scale problem: a naive ``groupBy(token)`` shuffles one row per
    distinct (partition, token) — at 100 TB that is a vocabulary-sized
    shuffle dominated by the long tail of hapaxes that can never be heavy
    hitters. Two-pass mergeable-summary design instead:

    1. Per-partition Misra-Gries summary (Arrow-batched ``mapInPandas``,
       ``HH_CAPACITY`` counters, state carried across the partition's
       batches). The batched decrement subtracts the (C+1)-th largest
       counter value from all and evicts the non-positives — equivalent to
       a run of unit MG decrements, each removing ≥ C+1 units of count
       mass, so any token undercounts by at most n_p/(C+1) within its
       partition. A token with global count > n/(C+1) therefore survives
       in at least one partition (averaging argument), and with
       C = 4·K ≥ K the candidate set is a superset of every true heavy
       hitter. Output is ≤ partitions × C rows — constant per partition,
       broadcastable.
    2. Exact recount of candidates only: broadcast-semi-join the token
       stream against the candidate set (map-side filter — the tail never
       enters a shuffle), partial-aggregable groupBy over ≤ C distinct
       keys, then the exact integer threshold ``cnt · K > n``.

    The final filter is over EXACT counts, so the output is deterministic
    regardless of partitioning even though the intermediate MG candidate
    set is not. Integer-only math end-to-end — no float portability trap.
    """
    import pandas as pd

    toks = _token_frame(spark, sf_dir).select(F.explode("toks").alias("token"))

    def _mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for token, c in pdf["token"].value_counts().items():
                counters[token] = counters.get(token, 0) + int(c)
            if len(counters) > HH_CAPACITY:
                cut = sorted(counters.values(), reverse=True)[HH_CAPACITY]
                counters = {t: v - cut for t, v in counters.items() if v > cut}
        yield pd.DataFrame({"token": pd.Series(list(counters), dtype="object")})

    candidates = toks.mapInPandas(_mg_partition, "token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total))  # 1-row scalar hoist (J4 pattern)
        .filter(F.col("cnt") * F.lit(HH_K) > F.col("n"))
        .select("token", F.col("cnt").cast("bigint").alias("cnt"))
    )


HEAVY_HITTER_SQL = f"""
WITH tok AS (
  SELECT lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok, tot
GROUP BY token, n
HAVING COUNT(*) * {HH_K} > n
"""


# --- Gopher quality-rule battery (Rae et al. 2021, Appendix A1.1) -----------
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def gopher_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document-quality rules as a per-source report.

    Five rules, each exactly as in Rae et al. 2021 §A1.1 (the dup-ngram
    rules of §A1.2 live in ``repetition_signals``):
    1. word count in [50, 100000]
    2. mean word length in [3, 10]
    3. symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1
    4. ≥ 2 distinct stop words present (list adapted to this corpus's
       en vocabulary: the/a/and/of/to)
    5. ≥ 80% of tokens contain an alphabetic character

    Every ratio threshold is evaluated as an INTEGER cross-multiplication
    (e.g. mean∈[3,10] ⇔ 3n ≤ Σlen ≤ 10n), so the report is exact and
    engine-portable — no float ever enters a rule. One scan, one token
    extraction into a checkpointed array (the
    no-expensive-expr-re-evaluation rule: five rules reference it), one
    tiny per-source aggregate; map-side combine makes the shuffle 20
    rows at any corpus size.
    """
    docs = fanout_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = F.transform(_tokens(), lambda t: F.lower(t))
    staged = docs.select(
        "source",
        toks.alias("tk"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "#", ""))
        ).alias("n_hash"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"\.\.\."), 0)
        ).alias("n_ellipsis"),
    ).localCheckpoint(eager=False)
    n = F.size("tk")
    sum_len = F.expr("aggregate(tk, 0L, (acc, t) -> acc + length(t))")
    n_alpha = F.size(F.expr("filter(tk, t -> t rlike '[a-z]')"))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct("tk"), stop_arr))
    r_wc = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_mwl = (sum_len >= 3 * n) & (sum_len <= 10 * n)
    r_sym = (F.col("n_hash") + F.col("n_ellipsis")) * 10 <= n
    r_stop = n_stop >= 2
    r_alpha = n_alpha * 5 >= n * 4

    def _fails(cond, name):
        return F.sum(F.when(~cond, 1).otherwise(0)).cast("bigint").alias(name)

    return staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        _fails(r_wc, "fail_word_count"),
        _fails(r_mwl, "fail_mean_word_len"),
        _fails(r_sym, "fail_symbol_ratio"),
        _fails(r_stop, "fail_stopwords"),
        _fails(r_alpha, "fail_alpha_frac"),
        F.sum(
            F.when(r_wc & r_mwl & r_sym & r_stop & r_alpha, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


GOPHER_RULES_SQL = f"""
WITH staged AS (
  SELECT source,
         list_transform(regexp_extract_all(text, '{TOKEN_RE}'),
                        t -> lower(t)) AS tk,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ellipsis
  FROM documents
),
flags AS (
  SELECT source,
         len(tk) AS n,
         COALESCE(list_sum(list_transform(tk, t -> length(t))), 0) AS sum_len,
         len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(tk),
                            ['the', 'a', 'and', 'of', 'to'])) AS n_stop,
         n_hash, n_ellipsis
  FROM staged
),
evaled AS (
  SELECT source,
         (n BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS r_wc,
         (sum_len >= 3 * n AND sum_len <= 10 * n) AS r_mwl,
         ((n_hash + n_ellipsis) * 10 <= n) AS r_sym,
         (n_stop >= 2) AS r_stop,
         (n_alpha * 5 >= n * 4) AS r_alpha
  FROM flags
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
       CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
       CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_frac,
       CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_stop AND r_alpha
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM evaled
GROUP BY source
"""


# --- lexical diversity report ---------------------------------------------
#
# The corpus-health readout a data-mixture owner checks per source:
# type-token ratio, hapax share, and the Herfindahl concentration of the
# unigram distribution (+ its Rényi-2 entropy, the collision-entropy
# "effective diversity" in nats). Everything reduces to four EXACT
# integer sufficient statistics per source (Σc, V, #hapax, Σc²) — no
# float enters until the final correctly-rounded <2^53 divisions, so the
# report is bit-portable unlike a Shannon entropy (whose Σ c·ln c
# accumulates order-dependent double error over |vocab| terms).


def lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, n_types, n_hapax, sum_c2, ttr, hapax_share,
    hhi, renyi2) per document source.

    Scale: one corpus-side partial-aggregable (source, word) count —
    the same single-shuffle shape as the BPE histogram — then a
    |vocab|-row rollup. renyi2 = −ln(hhi) is one libm call on an
    identical double in both engines, rounded to the repo's 6-dp
    convention."""
    wc = (
        _word_frame(spark, sf_dir)
        .select("source", F.explode("w").alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    n2 = F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double")
    hhi_arg = F.col("sum_c2").cast("double") / n2
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        "sum_c2",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 6).alias(
            "hapax_share"
        ),
        F.round(hhi_arg, 6).alias("hhi"),
        F.round(-F.log(hhi_arg), 6).alias("renyi2"),
    ).orderBy("source")


LEXICAL_DIVERSITY_SQL = f"""
WITH wc AS (
  SELECT source, word, COUNT(*) AS c FROM (
    SELECT source, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
    FROM documents)
  GROUP BY 1, 2
),
per AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM wc GROUP BY 1
)
SELECT source, n_tokens, n_types, n_hapax, sum_c2,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_share,
       round(CAST(sum_c2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS hhi,
       round(-ln(CAST(sum_c2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))), 6) AS renyi2
FROM per ORDER BY source
"""


# --- Token co-occurrence PMI ---------------------------------------------------
#
# The embedding-era corpus statistic the registry lacked: pointwise
# mutual information over document-level token co-occurrence —
# pmi(a, b) = ln(N·c_ab / (df_a·df_b)) — the signal behind GloVe-style
# co-occurrence factorization, collocation mining, and "these two terms
# travel together" corpus QA. Restricted to the TOP_V tokens by document
# frequency (deterministic (df desc, token) order) so the pair space is
# C(TOP_V, 2)-bounded per document — the standard vocabulary cut that
# keeps the pair expansion linear in the corpus instead of quadratic in
# per-doc vocabulary.
#
# Scale: one distinct-token pass (rides the memoized token frame), df
# aggregate (partial-aggregable), TOP_V broadcast back as a map-side
# filter, per-doc pair expansion bounded by C(TOP_V, 2), one (a, b)
# count shuffle, top-k via TakeOrderedAndProject. Ranking and LIMIT are
# integer/string-total-ordered; ln enters only the final round-6 column.

PMI_TOP_V = 40  # vocabulary cut: top tokens by document frequency
PMI_TOP_PAIRS = 50


def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_a, t_b, n_pair, df_a, df_b, pmi): top co-occurring pairs of the
    TOP_V-by-df vocabulary, ranked by pair count."""
    dt = (
        _token_frame(spark, sf_dir)
        .select("doc_id", F.explode(F.array_distinct("toks")).alias("t"))
    )
    df_tok = dt.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    top_v = df_tok.orderBy(F.col("df").desc(), "t").limit(PMI_TOP_V)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    vt = dt.join(F.broadcast(top_v), "t").select(
        "doc_id", "t", "df"
    )
    a = vt.select("doc_id", F.col("t").alias("t_a"), F.col("df").alias("df_a"))
    b = vt.select("doc_id", F.col("t").alias("t_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t_a") < F.col("t_b"))
        .groupBy("t_a", "t_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "t_a",
            "t_b",
            "n_pair",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    (F.col("n_pair") * F.col("n_docs")).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), "t_a", "t_b")
        .limit(PMI_TOP_PAIRS)
    )


TOKEN_PMI_SQL = f"""
WITH dt AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           regexp_extract_all(text, '{TOKEN_RE}'), x -> lower(x)))) AS t
  FROM documents
),
df_tok AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1),
top_v AS (SELECT t, df FROM df_tok ORDER BY df DESC, t LIMIT {PMI_TOP_V}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
vt AS (SELECT doc_id, t, df FROM dt JOIN top_v USING (t)),
pairs AS (
  SELECT a.t AS t_a, b.t AS t_b, CAST(COUNT(*) AS BIGINT) AS n_pair,
         a.df AS df_a, b.df AS df_b
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2, 4, 5
)
SELECT t_a, t_b, n_pair, df_a, df_b,
       round(ln(CAST(n_pair * n_docs AS DOUBLE)
                / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
FROM pairs, n
ORDER BY n_pair DESC, t_a, t_b
LIMIT {PMI_TOP_PAIRS}
"""


# --- Distinctive terms (log-odds with informative Dirichlet prior) ----------
#
# Monroe, Colaresi & Quinn (2008), "Fightin' Words": which tokens are
# over-represented in one language slice vs the rest of the corpus,
# scored by the z of the log-odds-ratio delta under an informative
# Dirichlet prior proportional to global counts (total prior mass A0).
# The corpus-QA / mixture-debugging readout BM25-era pipelines use to
# answer "what does this slice talk about that the others don't" —
# e.g. spotting template boilerplate concentrated in one source before
# it poisons a training mix. (On this fixture the vocabulary is shared
# across langs — CLAUDE.md — so deltas are small; the REPORT mechanics,
# ranking and portability are what the oracle pins.)
#
# Determinism: counts are exact integers off ONE (lang, word) shuffle;
# the prior, delta and z are double expressions written in the same
# evaluation order on both engines, then round-6'd BEFORE ranking so the
# (z, word) ordering is identical cross-engine even if ln() differs in
# the last ulp. Ranking window partitions by lang over the vocab-sized
# aggregate (metadata-sized; same class as the quantile frames).
#
# Scale: one partial-aggregable (lang, word) count over the corpus; the
# word-marginal join is vocab-sized; lang marginals and the total are
# broadcast one-row/5-row frames. No corpus-sized window, no all-pairs.

DISTINCT_TERMS_A0 = 10.0  # total Dirichlet prior mass
DISTINCT_TERMS_TOP_K = 5


def distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, rnk, word, y, yw, delta, z): top-K tokens per language by
    the prior-regularized log-odds z vs the rest of the corpus."""
    wc = (
        _token_frame(spark, sf_dir)
        .select("lang", F.explode("toks").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=False)  # read 3x: marginals + main frame
    )
    ww = wc.groupBy("word").agg(F.sum("y").cast("bigint").alias("yw"))
    wl = wc.groupBy("lang").agg(F.sum("y").cast("bigint").alias("ni"))
    tot = wc.agg(F.sum("y").cast("bigint").alias("n"))
    base = (
        wc.join(ww, "word")
        .join(F.broadcast(wl), "lang")
        .crossJoin(F.broadcast(tot))
    )
    y = F.col("y").cast("double")
    yw = F.col("yw").cast("double")
    ni = F.col("ni").cast("double")
    n = F.col("n").cast("double")
    a0 = F.lit(DISTINCT_TERMS_A0)
    aw = F.lit(DISTINCT_TERMS_A0) * yw / n
    yr = yw - y
    nr = n - ni
    t1num = y + aw
    t1den = ni + a0 - y - aw
    t2num = yr + aw
    t2den = nr + a0 - yr - aw
    delta = F.log(t1num / t1den) - F.log(t2num / t2den)
    var = F.lit(1.0) / t1num + F.lit(1.0) / t2num
    z6 = F.round(delta / F.sqrt(var), 6)
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("z"), F.asc("word"))
    scored = base.select(
        "lang",
        "word",
        F.col("y"),
        F.col("yw"),
        F.round(delta, 6).alias("delta"),
        z6.alias("z"),
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= DISTINCT_TERMS_TOP_K)
        .select("lang", "rnk", "word", "y", "yw", "delta", "z")
        .orderBy("lang", "rnk")
    )


DISTINCTIVE_TERMS_SQL = f"""
WITH wc AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS y FROM (
    SELECT lang, unnest(list_transform(regexp_extract_all(text, '{TOKEN_RE}'),
                                       t -> lower(t))) AS word
    FROM documents)
  GROUP BY 1, 2
),
ww AS (SELECT word, CAST(SUM(y) AS BIGINT) AS yw FROM wc GROUP BY 1),
wl AS (SELECT lang, CAST(SUM(y) AS BIGINT) AS ni FROM wc GROUP BY 1),
tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM wc),
scored AS (
  SELECT lang, word, y, yw,
         round(ln((CAST(y AS DOUBLE) + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(ni AS DOUBLE) + {DISTINCT_TERMS_A0} - CAST(y AS DOUBLE)
                     - {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE)))
               - ln((CAST(yw AS DOUBLE) - CAST(y AS DOUBLE) + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - CAST(ni AS DOUBLE) + {DISTINCT_TERMS_A0}
                     - (CAST(yw AS DOUBLE) - CAST(y AS DOUBLE))
                     - {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS delta,
         round((ln((CAST(y AS DOUBLE) + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(ni AS DOUBLE) + {DISTINCT_TERMS_A0} - CAST(y AS DOUBLE)
                     - {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE)))
               - ln((CAST(yw AS DOUBLE) - CAST(y AS DOUBLE) + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - CAST(ni AS DOUBLE) + {DISTINCT_TERMS_A0}
                     - (CAST(yw AS DOUBLE) - CAST(y AS DOUBLE))
                     - {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))))
               / sqrt(1.0 / (CAST(y AS DOUBLE) + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))
                      + 1.0 / (CAST(yw AS DOUBLE) - CAST(y AS DOUBLE)
                               + {DISTINCT_TERMS_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS z
  FROM wc JOIN ww USING (word) JOIN wl USING (lang) CROSS JOIN tot
),
ranked AS (
  SELECT lang, word, y, yw, delta, z,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY z DESC, word) AS INTEGER) AS rnk
  FROM scored
)
SELECT lang, rnk, word, y, yw, delta, z
FROM ranked WHERE rnk <= {DISTINCT_TERMS_TOP_K}
ORDER BY lang, rnk
"""


# --- Zipf rank-frequency fit ------------------------------------------------
#
# The corpus-naturalness check (Zipf 1949; Piantadosi 2014 review):
# natural language shows ln(freq) ~ -1 * ln(rank) over the vocabulary
# head; template/boilerplate corpora bend the slope. OLS of round-6
# ln(count) on round-6 ln(rank) over the top-V head — the fitted slope,
# intercept and R² are the three numbers a corpus owner trends across
# snapshots to catch a mixture going synthetic.
#
# Determinism: the head selection is a TOTAL (count desc, word) order
# (ASCII vocabulary → identical collation both engines); the two lns
# are round-6'd, converted to EXACT integer micro-units (floor(x·1e6 +
# 0.5) on identical doubles), and every OLS sufficient statistic is an
# exact BIGINT / DECIMAL(38,0) sum — no order-dependent double
# accumulation anywhere. Final slope/intercept/R² are round-6 doubles.
#
# Scale: one (word) count shuffle; the head selection goes through
# shard_topk_prune (no vocab-sized single-task window — at web scale
# the vocabulary is corpus-sized); the fit runs on <= V rows.

ZIPF_TOP_V = 1000


def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (v_head, n_types, n_tokens, slope, intercept, r2) — the
    Zipf log-log OLS over the top-V vocabulary head."""
    from pyspark.sql import Window

    from etl_mini_dw_spark.functions.simsearch import shard_topk_prune

    wc = (
        _word_frame(spark, sf_dir)
        .select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # totals + head both read it
    )
    totals = wc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    head = shard_topk_prune(
        # raw hash: shard_topk_prune pmods it (non-negative even for
        # negative inputs); abs(hash) would ANSI-overflow on
        # Integer.MIN_VALUE — a 2^-32-per-word landmine at web scale.
        wc.withColumn("h", F.hash("word")),
        [],
        [F.col("c").desc(), F.col("word")],
        ZIPF_TOP_V,
        "h",
    )
    w = Window.orderBy(F.col("c").desc(), F.col("word"))
    ranked = (
        head.withColumn("r", F.row_number().over(w).cast("bigint"))
        .filter(F.col("r") <= ZIPF_TOP_V)
        .select(
            F.expr("CAST(floor(round(ln(CAST(r AS DOUBLE)), 6) * 1000000.0 + 0.5) AS BIGINT)").alias("x"),
            F.expr("CAST(floor(round(ln(CAST(c AS DOUBLE)), 6) * 1000000.0 + 0.5) AS BIGINT)").alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    st = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    denx = n * F.col("sxx").cast("double") - sx * sx
    deny = n * F.col("syy").cast("double") - sy * sy
    slope = num / denx
    return st.crossJoin(F.broadcast(totals)).select(
        F.col("n").alias("v_head"),
        "n_types",
        "n_tokens",
        F.when(denx > 0, F.round(slope, 6)).alias("slope"),
        F.when(
            denx > 0,
            F.round((sy / F.lit(1000000.0) - slope * sx / F.lit(1000000.0)) / n, 6),
        ).alias("intercept"),
        F.when(
            (denx > 0) & (deny > 0), F.round(num * num / (denx * deny), 6)
        ).alias("r2"),
    )


ZIPF_FIT_SQL = f"""
WITH wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
    FROM documents)
  GROUP BY 1
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM wc
),
ranked AS (
  SELECT CAST(floor(round(ln(CAST(r AS DOUBLE)), 6) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(round(ln(CAST(c AS DOUBLE)), 6) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM (
    SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r FROM wc
  ) WHERE r <= {ZIPF_TOP_V}
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy
  FROM ranked
)
SELECT n AS v_head, t.n_types, t.n_tokens,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN round((CAST(sy AS DOUBLE) / 1000000.0
                        - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * CAST(sx AS DOUBLE) / 1000000.0)
                       / CAST(n AS DOUBLE), 6)
       END AS intercept,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS r2
FROM st CROSS JOIN totals t
"""
