"""BPE vocabulary training: merge semantics + training invariants.

Oracle value parity is covered by test_oracle_parity; these pin the
double-space merge encoding (the portability trick the operator rests
on), the classic BPE monotonicity property, and the driver trainer
against an independent tuple-based reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_mini_dw_spark.functions import bpe


def _merge_expr(a: str, b: str) -> str:
    return (
        f"replace(sym, concat(' ', '{a}', '  ', '{b}', ' '),"
        f" concat(' ', '{a}{b}', ' '))"
    )


def test_double_space_merge_is_greedy_left_to_right(spark):
    """'a a a a' + (a,a) → [aa, aa]; 'a a a' → [aa, a] — the adjacent-site
    cases single-space separators get wrong (shared delimiter consumed)."""
    rows = [
        ("  a  a  a  a  ", ["aa", "aa"]),
        ("  a  a  a  ", ["aa", "a"]),
        ("  b  a  a  b  ", ["b", "aa", "b"]),
        ("  a  b  a  b  ", ["a", "b", "a", "b"]),  # (a,a) matches nothing
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], ["sym"]).select(
        F.expr(_merge_expr("a", "a")).alias("sym")
    )
    got = [
        r.syms
        for r in df.select(F.expr(bpe._SYMS).alias("syms")).collect()
    ]
    assert got == [want for _, want in rows]


def test_merge_preserves_double_space_invariant(spark):
    """After a merge at adjacent sites the separators must still be double
    spaces (otherwise the NEXT round's pattern would miss sites)."""
    df = spark.createDataFrame([("  a  a  a  a  b  ",)], ["sym"]).select(
        F.expr(_merge_expr("a", "a")).alias("s1")
    )
    s1 = df.first()["s1"]
    assert s1 == "  aa  aa  b  "
    # a second-round merge on the result still works
    df2 = spark.createDataFrame([(s1,)], ["sym"]).select(
        F.expr(_merge_expr("aa", "aa")).alias("s2")
    )
    assert df2.first()["s2"] == "  aaaa  b  "


def test_bpe_pair_freqs_nonincreasing(spark, sf_dir):
    """Classic BPE property: the argmax pair frequency never increases
    round over round (new pairs created by a merge occur at most as often
    as the pair just merged)."""
    rows = bpe.bpe_train_merges(spark, sf_dir).orderBy("merge_round").collect()
    assert len(rows) == bpe.R_MERGES
    freqs = [r.pair_freq for r in rows]
    assert all(freqs[i] >= freqs[i + 1] for i in range(len(freqs) - 1)), freqs
    for r in rows:
        assert r.merged == r.sym_a + r.sym_b


# --- property test: Spark training == pure-Python reference BPE -------------
def _ref_bpe(word_freqs: dict[str, int], rounds: int):
    """Reference greedy BPE (Sennrich alg. 1) with the repo's tie-break
    (max freq, then lexicographically largest pair)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(rounds):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + f
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        (a, b), pf = best
        merges.append((a, b, pf))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_matches_reference_implementation(spark):
    """Drive the training entry with synthetic histograms and compare
    against the tuple-based reference on every round — the merge-table
    values, not just shapes: the Spark symbol split feeding the driver
    trainer, and the string-replace trainer on its own. Cases chosen to
    hit adjacent merge sites, ties, and multi-round symbol growth."""
    cases = [
        ({"aaaa": 3, "aab": 2, "baa": 1}, 4),      # adjacent sites + chains
        ({"abab": 5, "ab": 2, "ba": 2}, 3),        # alternating pattern
        ({"xxxx": 1, "xxx": 1, "xx": 1}, 3),       # all-same-letter
        ({"spark": 4, "spar": 2, "park": 3, "ark": 1}, 4),
        ({"ab": 1, "cd": 1}, 2),                   # exact tie → largest pair
    ]
    for wf, rounds in cases:
        want = _ref_bpe(wf, rounds)
        assert bpe.train_merges([(list(w), f) for w, f in wf.items()], rounds) == want, wf
        hist = spark.createDataFrame(list(wf.items()), ["word", "freq"])
        got = [
            (r.sym_a, r.sym_b, r.pair_freq)
            for r in bpe.train_merges_from_hist(hist, rounds=rounds)
            .orderBy("merge_round")
            .collect()
        ]
        assert got == want, (wf, got, want)


def test_empty_histogram_trains_no_merges(spark):
    """No words: zero merge rows, with the merge table's schema."""
    hist = spark.createDataFrame([], "word string, freq bigint")
    out = bpe.train_merges_from_hist(hist)
    assert out.collect() == []
    assert out.schema == bpe.MERGE_SCHEMA


def test_train_merges_exhaustion_guard(spark):
    """Rounds beyond the available merges must emit NOTHING extra (and
    must not null the vocab): 'ab'×1 has exactly one merge, so rounds=4
    still yields the reference's single merge — matching the DuckDB
    oracle's LIMIT-1-over-empty zero-row behavior rather than Spark's
    all-NULL max(struct) row."""
    wf = {"ab": 3, "a": 1, "b": 1}
    hist = spark.createDataFrame(list(wf.items()), ["word", "freq"])
    got = [
        (r.sym_a, r.sym_b, r.pair_freq)
        for r in bpe.train_merges_from_hist(hist, rounds=4)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == _ref_bpe(wf, 4) == [("a", "b", 3)]


def test_exhausted_table_follows_the_oracle(spark, tmp_path):
    """A corpus with fewer than R_MERGES merges ('ab' and 'cd' hold one
    pair each): the train line emits the two merges that exist, the apply
    report's later rounds have NULL totals and fertility has no rows —
    each exactly as its unrolled oracle over an empty pair set."""
    import duckdb

    from tests.oracle_harness import compare

    docs = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(1, "ab ab cd", "en", "web"), (2, "Cd x", "fr", "web")],
        "doc_id bigint, text string, lang string, source string",
    ).write.parquet(str(docs))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}/*.parquet'")
    try:
        for fn, sql in [
            (bpe.bpe_train_merges, bpe.bpe_train_merges_sql()),
            (bpe.bpe_apply_report, bpe.bpe_apply_report_sql()),
            (bpe.bpe_fertility_by_lang, bpe.bpe_fertility_by_lang_sql()),
        ]:
            compare(fn(spark, str(tmp_path)), con, sql, fn.__name__)
    finally:
        con.close()
    assert bpe.bpe_train_merges(spark, str(tmp_path)).count() == 2
    assert bpe.bpe_fertility_by_lang(spark, str(tmp_path)).count() == 0
