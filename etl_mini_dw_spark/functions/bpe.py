"""BPE vocabulary training (byte-pair-encoding merges).

The tokenizer-training stage of an LLM data pipeline (Sennrich et al.
2016): start from the corpus WORD HISTOGRAM, then repeatedly (1) count
adjacent-symbol pairs weighted by word frequency, (2) take the argmax
pair, (3) merge it everywhere. Production trainers (subword-nmt,
HuggingFace tokenizers) do exactly this — the corpus-scale part is ONLY
the word histogram; the merge loop runs over the vocabulary.

So one shuffle aggregates the corpus to a |vocab|-row histogram, which
is collected once; ``train_merges`` runs every round on the driver in
Python ints (the driver holds the word → freq vocabulary, as those
trainers do; SCALE.md states the bound). The table is staged once per
session (``bpe_merges``) and applied by ``apply_merges`` as literal
``replace`` patterns in one projection: no plan carries a round.

Portability trick — the merge step WITHOUT a UDF: symbols are joined
with DOUBLE spaces and the string gets double-space sentinels at both
ends ('  s  p  a  r  k  '). A merge of (a, b) is then one plain
``replace(sym, ' a  b ', ' ab ')``: the pattern consumes one space of
each double separator, leaving the other intact, so ADJACENT merge
sites keep their boundary and a single left-to-right non-overlapping
replace() — identical semantics in Python, Spark and DuckDB — performs
exactly the greedy BPE merge ('a a a' + (a,a) → [aa, a]). With
single-space separators the shared delimiter is consumed and 'a b a b'
merges only once; RE2 (DuckDB) has no lookbehind, so the double-space
encoding is the portable fix.

Ties at max pair frequency break to the lexicographically LARGEST
(a, b) — ``max((pf, a, b))`` on the driver, ``ORDER BY pf DESC, a DESC,
b DESC LIMIT 1`` in DuckDB; words match ``[a-z]+``, so Python's string
order is the engines' byte order.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.functions.text import WORD_RE, _word_frame
from etl_mini_dw_spark.sources.tables import stage_memo

R_MERGES = 6

Merges = list[tuple[str, str, int]]  # (a, b, pair freq) per round

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("merge_round", T.IntegerType(), False),
        T.StructField("sym_a", T.StringType()),
        T.StructField("sym_b", T.StringType()),
        T.StructField("pair_freq", T.LongType()),
        T.StructField("merged", T.StringType()),
    ]
)


def _syms(sym: str = "sym") -> str:
    """The symbols of a double-space encoded column, as SQL."""
    return f"filter(split({sym}, '  '), x -> x <> '')"


_SYMS = _syms()


def _sym() -> Column:
    """``word`` in the double-space encoding: '  s  p  a  r  k  '."""
    return F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  "))


def _word_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq): the only corpus-scale stage — one count shuffle."""
    return (
        _word_frame(spark, sf_dir)
        .select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def train_merges(vocab_rows: Iterable[tuple[list[str], int]], rounds: int = R_MERGES) -> Merges:
    """(a, b, pf) per round: greedy BPE over ``(syms, freq)`` rows. Stops
    when no pair is left (every word one symbol), emitting only the
    rounds that exist, as the oracle's ``LIMIT 1`` over no pairs does."""
    vocab = [("  " + "  ".join(syms) + "  ", freq) for syms, freq in vocab_rows]
    merges = []
    for _ in range(rounds):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, freq in vocab:
            syms = [x for x in sym.split("  ") if x]
            for pair in zip(syms, syms[1:]):
                pairs[pair] += freq
        if not pairs:
            break
        pf, a, b = max((pf, a, b) for (a, b), pf in pairs.items())
        merges.append((a, b, pf))
        vocab = [(sym.replace(f" {a}  {b} ", f" {a}{b} "), freq) for sym, freq in vocab]
    return merges


def _learn(hist: DataFrame, rounds: int) -> Merges:
    """Collect ``hist``'s symbols once (split by ``_SYMS``); train on the driver."""
    rows = hist.select(_sym().alias("sym"), "freq").select(F.expr(_SYMS).alias("syms"), "freq")
    return train_merges(((r.syms, r.freq) for r in rows.collect()), rounds)


def _merge_frame(spark: SparkSession, merges: Merges) -> DataFrame:
    rows = [(r, a, b, pf, a + b) for r, (a, b, pf) in enumerate(merges, start=1)]
    return rows_frame(spark, rows, MERGE_SCHEMA)


def train_merges_from_hist(hist: DataFrame, rounds: int = R_MERGES) -> DataFrame:
    """Merge table from ANY (word, freq) frame — the public entry that
    property tests drive with synthetic histograms."""
    return _merge_frame(hist.sparkSession, _learn(hist, rounds))


def _merges(spark: SparkSession, sf_dir: str) -> Merges:
    """The corpus merge table, trained once per (session, sf-dir)."""
    return stage_memo(
        spark, sf_dir, "bpe_merges", lambda: _learn(_word_hist(spark, sf_dir), R_MERGES)
    )


def apply_merges(sym: Column, merges: Merges) -> Column:
    """``sym`` after ``merges`` in order: one literal ``replace`` each."""
    for a, b, _ in merges:
        sym = F.replace(sym, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return sym


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_round, sym_a, sym_b, pair_freq, merged): the learned merge
    table after R_MERGES rounds — the artifact a tokenizer ships."""
    return _merge_frame(spark, _merges(spark, sf_dir))


_SQL_WORD_HIST = f"""
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
    FROM documents)
  GROUP BY word
"""


def _sql_pairs(vocab_from: str) -> str:
    return f"""
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pf FROM (
    SELECT s.a AS a, s.b AS b, freq FROM (
      SELECT freq, unnest(list_transform(range(0, len(syms) - 1),
               i -> struct_pack(a := syms[CAST(i AS INT) + 1],
                                b := syms[CAST(i AS INT) + 2]))) AS s
      FROM (SELECT list_filter(string_split(sym, '  '), x -> x <> '') AS syms,
                   freq FROM {vocab_from})
      WHERE len(syms) >= 2))
  GROUP BY a, b
"""


def bpe_train_merges_sql() -> str:
    """Unrolled R_MERGES-round oracle with identical merge semantics."""
    sql = f"""
WITH wh AS ({_SQL_WORD_HIST}),
s0 AS (SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym, freq FROM wh),
"""
    prev = "s0"
    for r in range(1, R_MERGES + 1):
        sql += f"""p{r} AS ({_sql_pairs(prev)}),
b{r} AS (SELECT a, b, pf FROM p{r} ORDER BY pf DESC, a DESC, b DESC LIMIT 1),
s{r} AS (
  SELECT replace(sym, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS sym,
         freq
  FROM {prev}, b{r}
),
"""
        prev = f"s{r}"
    sql = sql.rstrip().rstrip(",")
    sql += "\n" + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round, a AS sym_a, b AS sym_b,"
        f" pf AS pair_freq, a || b AS merged FROM b{r}"
        for r in range(1, R_MERGES + 1)
    )
    return sql


def bpe_apply_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_round, corpus_subword_tokens, compression_ratio): corpus
    token count after applying the first r learned merges, r = 0..R.

    The APPLY side of tokenizer training at scale: segmentation is
    dictionary-encoded — merges are applied to the |vocab|-row histogram
    and corpus totals are Σ freq × |symbols(word)|, so the corpus itself
    is never re-touched (the same reason production tokenizers segment
    against a word cache). All R+1 totals come from one aggregate over
    the histogram, stacked into rows. compression_ratio is subword tokens
    per whitespace word, rounded to 6 dp on both engines. A round past
    the table's exhaustion has NULL totals, as the oracle's SUM over an
    empty chain; the fixture corpus never exhausts R_MERGES rounds.
    """
    merges = _merges(spark, sf_dir)
    done = range(len(merges) + 1)
    per_round = F.array(
        *[
            F.struct(
                F.lit(r).alias("merge_round"),
                F.expr(
                    f"sum(freq * size({_syms(f's{r}')}))" if r in done else "CAST(NULL AS BIGINT)"
                ).alias("corpus_subword_tokens"),
            )
            for r in range(R_MERGES + 1)
        ]
    )
    return (
        _word_hist(spark, sf_dir)
        .select("freq", *[apply_merges(_sym(), merges[:r]).alias(f"s{r}") for r in done])
        .agg(F.sum("freq").alias("nw"), per_round.alias("rounds"))
        .select(F.inline("rounds"), "nw")
        .select(
            "merge_round",
            "corpus_subword_tokens",
            F.round(
                F.col("corpus_subword_tokens").cast("double") / F.col("nw"), 6
            ).alias("compression_ratio"),
        )
    )


def bpe_apply_report_sql() -> str:
    sql = f"""
WITH wh AS ({_SQL_WORD_HIST}),
nw AS (SELECT CAST(SUM(freq) AS BIGINT) AS nw FROM wh),
s0 AS (SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym, freq FROM wh),
"""
    prev = "s0"
    for r in range(1, R_MERGES + 1):
        sql += f"""p{r} AS ({_sql_pairs(prev)}),
b{r} AS (SELECT a, b FROM p{r} ORDER BY pf DESC, a DESC, b DESC LIMIT 1),
s{r} AS (
  SELECT replace(sym, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS sym,
         freq
  FROM {prev}, b{r}
),
"""
        prev = f"s{r}"
    sql = sql.rstrip().rstrip(",")
    counts = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round,"
        f" CAST(SUM(freq * len(list_filter(string_split(sym, '  '),"
        f" x -> x <> ''))) AS BIGINT) AS corpus_subword_tokens FROM s{r}"
        for r in range(0, R_MERGES + 1)
    )
    sql += f"""
SELECT merge_round, corpus_subword_tokens,
       round(CAST(corpus_subword_tokens AS DOUBLE) / nw.nw, 6) AS compression_ratio
FROM ({counts}) c, nw
"""
    return sql


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_words, subword_tokens, fertility): tokens-per-word per
    language label after applying the full R_MERGES merge table — the
    multilingual-tokenizer equity report (languages under-represented in
    training text get higher fertility, i.e. more subword tokens per
    word, which inflates their compute cost downstream).

    The merge table is the one trained on the GLOBAL histogram (the
    ``bpe_train_merges`` artifact); it is applied to a (lang, word)
    histogram in one projection, so the corpus is still touched exactly
    once. A table exhausted before R_MERGES rounds yields no rows, as
    the oracle's empty chain does; the fixture corpus never exhausts."""
    merges = _merges(spark, sf_dir)
    hist_lang = (
        _word_frame(spark, sf_dir)
        .where(F.lit(len(merges) == R_MERGES))
        .select("lang", F.explode("w").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        hist_lang.select("lang", "freq", apply_merges(_sym(), merges).alias("sym"))
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.expr(f"freq * size({_SYMS})")).cast("bigint").alias("subword_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "subword_tokens",
            F.round(
                F.col("subword_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
    )


def bpe_fertility_by_lang_sql() -> str:
    """Unrolled oracle: global chain picks each round's argmax pair, a
    parallel lang-keyed chain applies the same merges."""
    sql = f"""
WITH wl AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT lang, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
    FROM documents)
  GROUP BY lang, word
),
wh AS (SELECT word, CAST(SUM(freq) AS BIGINT) AS freq FROM wl GROUP BY word),
s0 AS (SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym, freq FROM wh),
t0 AS (SELECT lang, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym, freq FROM wl),
"""
    prev_g, prev_l = "s0", "t0"
    for r in range(1, R_MERGES + 1):
        sql += f"""p{r} AS ({_sql_pairs(prev_g)}),
b{r} AS (SELECT a, b FROM p{r} ORDER BY pf DESC, a DESC, b DESC LIMIT 1),
s{r} AS (
  SELECT replace(sym, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS sym,
         freq
  FROM {prev_g}, b{r}
),
t{r} AS (
  SELECT lang,
         replace(sym, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS sym,
         freq
  FROM {prev_l}, b{r}
),
"""
        prev_g, prev_l = f"s{r}", f"t{r}"
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT lang,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * len(list_filter(string_split(sym, '  '),
            x -> x <> ''))) AS BIGINT) AS subword_tokens,
       round(CAST(SUM(freq * len(list_filter(string_split(sym, '  '),
             x -> x <> ''))) AS BIGINT)
             / CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE), 6) AS fertility
FROM {prev_l}
GROUP BY lang
"""
    return sql
