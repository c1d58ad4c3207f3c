"""End-to-end training-corpus pipeline composition (extension).

The proof that the operator families COMPOSE: quality scoring
(`text.text_stats`) → language agreement (`text.lang_id`) → near-dup
canonical selection (`dedup.neardup_keep_canonical`, which itself rides
the MinHash/LSH/components chain) fused into one lazy plan, summarized
per source — the decision table a pipeline owner reads before
tokenization ("of N candidate docs per source, how many and how many
chars survive the full gauntlet").

Because every stage is a pure DataFrame→DataFrame function, the
composition is a single Catalyst plan: the scorer/lang-id projections
fuse into the scan, the dedup chain reuses the per-session staged
shingle frames (`stage_memo`), and the summary is one partial-
aggregable groupBy. No stage materializes driver-side; the oracle
replays the ENTIRE chain as nested CTEs (including the recursive
connected-components CTE inside keep-canonical) — value-identical or
the gate fails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.functions import dedup
from etl_mini_dw_spark.functions.text import lang_id, lang_id_sql, text_stats, TEXT_STATS_SQL
from etl_mini_dw_spark.sources.tables import load_table

QUALITY_MIN = 0.5


def corpus_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival through the full curation gauntlet."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    stats = text_stats(spark, sf_dir).select("doc_id", "quality_score")
    langs = lang_id(spark, sf_dir).select("doc_id", "lang_label", "lang_pred")
    keepc = dedup.neardup_keep_canonical(spark, sf_dir).select("doc_id", "keep")
    staged = docs.join(stats, "doc_id").join(langs, "doc_id").join(keepc, "doc_id")
    is_kept = (
        (F.col("quality_score") >= QUALITY_MIN)
        & (F.col("lang_pred") == F.col("lang_label"))
        & F.col("keep")
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(is_kept, F.col("n_chars")).otherwise(0)).cast("bigint").alias(
            "kept_chars"
        ),
    )


def corpus_pipeline_summary_sql() -> str:
    return f"""
WITH q AS (SELECT doc_id, quality_score FROM ({TEXT_STATS_SQL})),
l AS (SELECT doc_id, lang_label, lang_pred FROM ({lang_id_sql()})),
k AS (SELECT doc_id, keep FROM ({dedup.neardup_keep_canonical_sql()})),
staged AS (
  SELECT d.doc_id, d.source, d.n_chars, q.quality_score,
         l.lang_label, l.lang_pred, k.keep
  FROM documents d
  JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN k USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN quality_score >= {QUALITY_MIN}
                      AND lang_pred = lang_label AND keep
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN quality_score >= {QUALITY_MIN}
                      AND lang_pred = lang_label AND keep
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM staged
GROUP BY source
"""
