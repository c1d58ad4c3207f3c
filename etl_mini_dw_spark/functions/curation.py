"""Corpus curation: budgeted selection and curriculum staging (extension).

Two ops a training pipeline runs AFTER scoring (text.py) and dedup
(dedup.py) to decide what actually enters the mixture:

- budget_curation: within each source, greedily keep the best-quality
  documents until that source's character budget is spent — the
  per-stratum knapsack-greedy that enforces "no source dominates" while
  maximizing kept quality. Window is partitioned by SOURCE (running sum
  per stratum), never global.
- quality_deciles: per-language decile staging of the quality score
  (curriculum ordering / stratified eval splits). ``ntile`` needs a
  per-partition sort and per-language partitions are corpus-sized at
  100 TB, so the decile label is computed CLOSED-FORM from each row's
  exact global rank instead: `quantiles.cum_below` counts the
  language's documents with a lower score (a coarse histogram read on
  the driver plus a window partitioned by (lang, bucket)), a row_number
  within the (lang, score) tie group adds the doc_id order, and
  `quantiles.ntile_label_cols` maps (rank, n) to the identical ntile
  label. The oracle keeps the ntile spelling as the spec.

Determinism: quality_score is the shared `text.quality_score_col`
expression (round-6 double, engine-identical); orderings always
tie-break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.functions.quantiles import (
    cum_below,
    n_below,
    ntile_bounds,
    ntile_label_cols,
)
from etl_mini_dw_spark.functions.text import QUALITY_SQL, quality_score_col
from etl_mini_dw_spark.sources.tables import load_table

BUDGET_CHARS_PER_SOURCE = 2000
N_DECILES = 10


def budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept documents per source under the character budget, best first."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", quality_score_col().alias("quality_score")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality_score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("cum_chars", F.sum("n_chars").over(w).cast("bigint"))
        .filter(F.col("cum_chars") <= BUDGET_CHARS_PER_SOURCE)
        .select("doc_id", "source", "quality_score", "n_chars", "cum_chars")
    )


BUDGET_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars, {QUALITY_SQL} AS quality_score FROM documents
),
cum AS (
  SELECT *, CAST(SUM(n_chars) OVER (PARTITION BY source
                                    ORDER BY quality_score DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
  FROM scored
)
SELECT doc_id, source, quality_score, n_chars, cum_chars
FROM cum WHERE cum_chars <= {BUDGET_CHARS_PER_SOURCE}
"""


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality decile for curriculum staging (1 = worst).

    Value-identical to ``ntile(10) OVER (PARTITION BY lang ORDER BY
    quality_score, doc_id)`` — the (score, doc_id) ordering is total, so
    each row's decile is a closed-form function of its exact rank. Rank
    = docs of the language with a lower score (``quantiles.cum_below``,
    a window partitioned by (lang, coarse bucket)) + row_number within
    the (lang, score) tie group; no per-language global sort."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score_col().alias("val")
    )
    w_tie = Window.partitionBy("lang", "val").orderBy("doc_id")
    return cum_below(docs, ["lang"]).select(
        "doc_id",
        "lang",
        F.col("val").alias("quality_score"),
        ntile_label_cols(
            F.col("total"), F.col("below") + F.row_number().over(w_tie), N_DECILES
        ).alias("decile"),
    )


QUALITY_DECILES_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, {QUALITY_SQL} AS quality_score FROM documents
)
SELECT doc_id, lang, quality_score,
       CAST(ntile({N_DECILES}) OVER (PARTITION BY lang
                                     ORDER BY quality_score, doc_id) AS INTEGER) AS decile
FROM scored
"""


# --- Quality-signal agreement ---------------------------------------------------
#
# The curation layer runs TWO independent quality signals — the
# heuristic length/punctuation score and the bigram-LM surprisal — and
# quietly assumes they point the same way. This operator measures that:
# quintile each signal (ntile BOUNDARIES are a pure function of the
# value multiset, so re-bucketing both engines by the boundary rule is
# portable — the gains/PSI discipline), cross-tabulate, and report the
# tile-index Pearson correlation (exact integer sufficient statistics
# over tile pairs) plus the best-quality ∩ lowest-surprisal overlap.
# Agreement should be NEGATIVE correlation (high quality ↔ low
# surprisal); a near-zero readout means the two filters are pruning
# different documents and the pipeline's effective filter is their
# union, not their intersection — worth knowing before tightening
# either knob.
#
# Scale: two per-doc map passes (one rides the memoized word frame),
# ntile boundary derivation over value histograms, one 25-cell rollup.

QS_TILES = 5


def quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(kind, q_tile, s_tile, n, value): 'cell' rows = the 5×5 quintile
    cross-tab of quality score vs avg surprisal; 'tile_corr' row =
    Pearson r of the tile indices; 'top_overlap' row = share of
    best-quality-tile docs that are also in the lowest-surprisal tile."""
    from etl_mini_dw_spark.functions import lm
    from etl_mini_dw_spark.functions.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).select("doc_id", quality_score_col().alias("q"))
    sur = lm.lm_surprisal_score(spark, sf_dir).select(
        "doc_id",
        # exact integer surprisal key: floor(1e6 * sum / n). Divisor is
        # structurally nonzero under ANSI: lm_surprisal_score emits a row
        # only for docs WITH bigrams (groupBy over existing bigram rows),
        # so n_bigrams = SUM(tf ≥ 1) ≥ 1 on every row (r6 ADVICE).
        F.expr(
            "((surprisal_sum * 1000000)"
            " - pmod(surprisal_sum * 1000000, n_bigrams)) div n_bigrams"
        ).alias("s"),
    )
    base = docs.join(sur, "doc_id").localCheckpoint(eager=False)

    def tiles(col: str, alias: str) -> DataFrame:
        # quintile edges via quantiles.ntile_bounds — value-identical to
        # the oracle's ntile max-per-tile, no global row sort
        bounds = ntile_bounds(base.select(F.col(col).alias("val")), QS_TILES)
        return base.select(
            "doc_id",
            (F.lit(QS_TILES) - n_below(bounds, F.col(col))).cast("bigint").alias(alias),
        )

    tiled = tiles("q", "q_tile").join(tiles("s", "s_tile"), "doc_id")
    tiled = tiled.localCheckpoint(eager=False)
    cells = tiled.groupBy("q_tile", "s_tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(
        F.lit("cell").alias("kind"),
        "q_tile",
        "s_tile",
        "n",
        F.lit(None).cast("double").alias("value"),
    )
    stats = tiled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q_tile").cast("bigint").alias("sq"),
        F.sum("s_tile").cast("bigint").alias("ss"),
        F.sum(F.col("q_tile") * F.col("q_tile")).cast("bigint").alias("sqq"),
        F.sum(F.col("s_tile") * F.col("s_tile")).cast("bigint").alias("sss"),
        F.sum(F.col("q_tile") * F.col("s_tile")).cast("bigint").alias("sqs"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("sqs") - F.col("sq") * F.col("ss")
    vq = nn * F.col("sqq") - F.col("sq") * F.col("sq")
    vs = nn * F.col("sss") - F.col("ss") * F.col("ss")
    corr_row = stats.select(
        F.lit("tile_corr").alias("kind"),
        F.lit(-1).cast("bigint").alias("q_tile"),
        F.lit(-1).cast("bigint").alias("s_tile"),
        "n",
        F.when((vq > 0) & (vs > 0), F.round(cov / F.sqrt(vq * vs), 6)).alias(
            "value"
        ),
    )
    top = tiled.filter(F.col("q_tile") == QS_TILES).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_best"),
        F.sum(F.when(F.col("s_tile") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
    ).select(
        F.lit("top_overlap").alias("kind"),
        F.lit(-1).cast("bigint").alias("q_tile"),
        F.lit(-1).cast("bigint").alias("s_tile"),
        F.col("n_best").alias("n"),
        F.round(F.col("n_both") / F.col("n_best").cast("double"), 6).alias(
            "value"
        ),
    )
    return cells.unionByName(corr_row).unionByName(top).orderBy(
        "kind", "q_tile", "s_tile"
    )


def quality_signal_agreement_sql() -> str:
    from etl_mini_dw_spark.functions.lm import LM_SURPRISAL_SQL
    from etl_mini_dw_spark.functions.text import QUALITY_SQL

    def tile_sql(col: str, alias: str) -> str:
        return f"""
  SELECT doc_id,
         CAST({QS_TILES} - len(list_filter(
             (SELECT barr FROM bounds_{alias}), x -> x < {col}))
           AS BIGINT) AS {alias}
  FROM base
"""

    return f"""
WITH sur AS ({LM_SURPRISAL_SQL}),
base AS MATERIALIZED (
  SELECT d.doc_id,
         {QUALITY_SQL} AS q,
         ((s.surprisal_sum * 1000000)
          - (((s.surprisal_sum * 1000000) % s.n_bigrams + s.n_bigrams)
             % s.n_bigrams)) // s.n_bigrams AS s
  FROM documents d JOIN sur s ON s.doc_id = d.doc_id
),
bounds_q_tile AS MATERIALIZED (
  SELECT list_sort(list(b)) AS barr FROM (
    SELECT tile, MAX(q) AS b FROM (
      SELECT q, ntile({QS_TILES}) OVER (ORDER BY q) AS tile FROM base)
    WHERE tile < {QS_TILES} GROUP BY tile)
),
bounds_s_tile AS MATERIALIZED (
  SELECT list_sort(list(b)) AS barr FROM (
    SELECT tile, MAX(s) AS b FROM (
      SELECT s, ntile({QS_TILES}) OVER (ORDER BY s) AS tile FROM base)
    WHERE tile < {QS_TILES} GROUP BY tile)
),
qt AS ({tile_sql("q", "q_tile")}),
st AS ({tile_sql("s", "s_tile")}),
tiled AS MATERIALIZED (
  SELECT qt.doc_id, qt.q_tile, st.s_tile
  FROM qt JOIN st ON st.doc_id = qt.doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q_tile) AS BIGINT) AS sq,
         CAST(SUM(s_tile) AS BIGINT) AS ss,
         CAST(SUM(q_tile * q_tile) AS BIGINT) AS sqq,
         CAST(SUM(s_tile * s_tile) AS BIGINT) AS sss,
         CAST(SUM(q_tile * s_tile) AS BIGINT) AS sqs
  FROM tiled
)
SELECT 'cell' AS kind, q_tile, s_tile,
       CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS value
FROM tiled GROUP BY q_tile, s_tile
UNION ALL
SELECT 'tile_corr', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), n,
       CASE WHEN (n * sqq - sq * sq) > 0 AND (n * sss - ss * ss) > 0
            THEN round((CAST(n AS DOUBLE) * sqs - CAST(sq AS DOUBLE) * ss)
                       / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
                              * (CAST(n AS DOUBLE) * sss - CAST(ss AS DOUBLE) * ss)), 6)
       END
FROM stats
UNION ALL
SELECT 'top_overlap', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       round(CAST(SUM(CASE WHEN s_tile = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6)
FROM tiled WHERE q_tile = {QS_TILES}
ORDER BY kind, q_tile, s_tile
"""


# --- Per-source frequency capping --------------------------------------------
#
# The domain/source frequency cap every web-corpus recipe applies before
# mixing (C4 and successors cap per-domain page counts so one crawl
# artifact cannot dominate the mixture): keep at most FREQ_CAP docs per
# source, selected by a deterministic per-doc hash rank (uniform "random"
# that survives backfills and repartitions — the sampling.py contract),
# and report what the cap did to each source's doc/char mass.
#
# Determinism: the keep set is a TOTAL (md5-hex, doc_id) order per
# source; all reported masses are exact integer sums; shares round-6.
#
# Scale: the per-source selection passes shard_topk_prune (a bare
# Window.partitionBy(source) holds one source's entire corpus slice in
# one task — sources are few and corpus-sized, the worst window shape),
# so no task ever ranks more than corpus/n_shards rows; the final
# window sees <= 64*cap rows per source.

FREQ_CAP = 20


def freq_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_kept, chars_total, chars_kept, share_kept):
    effect of a FREQ_CAP-docs-per-source cap under deterministic hash
    selection."""
    from etl_mini_dw_spark.functions.simsearch import shard_topk_prune

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.md5(F.concat_ws(":", F.lit("cap"), F.col("doc_id").cast("string"))).alias(
                "h"
            ),
        )
        .localCheckpoint(eager=False)  # totals + keep-selection both read it
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    pruned = shard_topk_prune(
        docs, ["source"], [F.col("h"), F.col("doc_id")], FREQ_CAP, "doc_id"
    )
    w = Window.partitionBy("source").orderBy(F.col("h"), F.col("doc_id"))
    kept = (
        pruned.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= FREQ_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )
    return (
        totals.join(F.broadcast(kept), "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            "chars_total",
            "chars_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("share_kept"),
        )
        .orderBy("source")
    )


FREQ_CAP_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         md5('cap' || ':' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars_total
  FROM docs GROUP BY 1
),
kept AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_chars) AS BIGINT) AS chars_kept
  FROM (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS r
    FROM docs)
  WHERE r <= {FREQ_CAP}
  GROUP BY 1
)
SELECT source, n_docs, n_kept, chars_total, chars_kept,
       round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS share_kept
FROM totals JOIN kept USING (source)
ORDER BY source
"""
