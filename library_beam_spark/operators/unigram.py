"""Unigram-LM (SentencePiece-style) Viterbi segmentation with a FIXED
piece vocabulary — the tokenizer-inference step of Kudo 2018: each word
is segmented into the piece sequence minimizing total cost (cost =
−log p scaled to an integer), solved exactly by dynamic programming
over character positions.

Engine shape — this is deliberately NOT a UDF:
- the DP is unrolled position-by-position into pure column expressions
  (LEAST/CASE/substr), each level materialized as a NAMED projection
  column that later levels reference by name. That detail is load-
  bearing: inlining dp[i−1..i−4] as expression trees grows the plan
  tetranacci-fast (~1.9^n nodes — Catalyst analysis stalls near
  max_len 16), while named levels keep the plan LINEAR in max_len and
  CollapseProject leaves multiply-referenced aliases alone;
- costs are integers, so the minimum is exact and the DuckDB oracle
  (generated from the SAME vocab constant by :func:`viterbi_sql`,
  chained through lateral column aliases) replays every value
  bit-for-bit;
- the intended pipeline grain is the DISTINCT-WORD table (vocabulary-
  sized — tiny vs the corpus), with per-document totals recovered by a
  broadcast join back to word instances. 100 TB of text still has a
  bounded vocabulary; the DP never runs per-occurrence.

Training the vocab (the EM step of Kudo 2018) is out of scope here —
this is the inference half, the part a data pipeline runs at scale
(token accounting, cost-per-char quality scoring, length estimation
for packing). See operators/bpe.py for the merge-based alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Scaled −log p costs. Single characters are always available at
# CHAR_COST (the unigram model's character fallback keeps every string
# segmentable). Multi-character pieces undercut their spelled-out cost,
# so the DP has real choices; only the min cost is emitted, so no
# tie-break rule is needed.
CHAR_COST = 100
VOCAB: dict[str, int] = {
    # 2-char pieces
    "th": 150, "he": 150, "in": 150, "er": 150, "an": 150, "re": 150,
    "on": 150, "at": 150, "en": 150, "nd": 150, "ti": 150, "es": 150,
    "or": 150, "te": 150, "st": 150, "ar": 150, "ow": 150, "ta": 150,
    # 3-char pieces
    "the": 180, "ing": 180, "and": 180, "ion": 180, "ent": 180,
    "for": 180, "col": 180, "umn": 180, "eam": 180, "ort": 180,
    "ast": 180, "alu": 180, "dow": 180,
    # 4-char pieces
    "tion": 200, "ment": 200, "park": 200, "trea": 200, "ilte": 200,
    "uery": 200, "atch": 200, "roup": 200,
}
MAX_PIECE = 4
UNREACHABLE = 10**9


def viterbi_word_costs(
    df: DataFrame, word_col: str = "word", max_len: int = 16
) -> DataFrame:
    """(word, n_chars, min_cost) for each input row whose word fits in
    ``max_len`` characters; longer words are excluded (raise max_len —
    each extra position is one more projection level, not a new pass).

    r16 construction: the unrolled DP is generated as ONE Spark SQL
    statement (chained CTEs, the same anti-inlining layering the column
    form used — CollapseProject leaves the multiply-referenced level
    aliases alone, so the plan tree is unchanged) instead of chained
    ``withColumn`` calls. Each ``withColumn`` re-analyzes the whole
    growing plan, so the old form paid a QUADRATIC number of Catalyst
    analysis passes — measured 3.2-3.9 s of driver time per query
    build vs 0.3-0.4 s for the single-statement form, identical values
    (guide §7.3: planning time IS the bottleneck for unrolled plans).
    """
    terms_sql: list[str] = []
    for i in range(1, max_len + 1):
        terms = [f"_dp{i - 1} + {CHAR_COST}"]
        for j in range(2, MAX_PIECE + 1):
            if j > i:
                continue
            by_len = sorted((p, c) for p, c in VOCAB.items() if len(p) == j)
            if not by_len:
                continue
            whens = " ".join(f"WHEN '{p}' THEN {c}" for p, c in by_len)
            case = (
                f"CASE substr(`{word_col}`, {i - j + 1}, {j}) {whens} "
                "ELSE CAST(NULL AS BIGINT) END"
            )
            terms.append(f"coalesce(_dp{i - j} + ({case}), {UNREACHABLE})")
        terms_sql.append(
            f"least({', '.join(terms)})" if len(terms) > 1 else terms[0]
        )
    ctes = [
        "v0 AS (SELECT *, CAST(0 AS BIGINT) AS _dp0 FROM {src} WHERE "
        f"length(`{word_col}`) >= 1 AND length(`{word_col}`) <= {max_len})"
    ]
    for i, level in enumerate(terms_sql, start=1):
        # positions past the word's end stay NULL-free but meaningless;
        # the final CASE on length() never reads them
        ctes.append(f"v{i} AS (SELECT *, {level} AS _dp{i} FROM v{i - 1})")
    final = (
        f"CASE length(`{word_col}`) "
        + " ".join(f"WHEN {i} THEN _dp{i}" for i in range(1, max_len + 1))
        + " ELSE CAST(NULL AS BIGINT) END"
    )
    sql = (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT `{word_col}`, CAST(length(`{word_col}`) AS BIGINT) AS "
        f"n_chars, {final} AS min_cost FROM v{max_len}"
    )
    return df.sparkSession.sql(sql, src=df)


def viterbi_sql(
    word_expr: str, source_cte: str, max_len: int = 16
) -> tuple[list[str], str, str]:
    """The DuckDB twin of :func:`viterbi_word_costs`, generated from
    the same VOCAB: returns (cte_list, final_cte_name, final_expr).

    Each dp level is its own MATERIALIZED CTE selecting from the
    previous level — the same anti-inlining discipline the Spark side
    needs: DuckDB substitutes lateral/projected aliases into every
    consumer, and with four consumers per level the expression tree
    grows ~1.9^n (observed: OOM at max_len 16). Materialization is an
    optimization fence; the chain stays linear.
    """
    ctes = [f"v0 AS MATERIALIZED (SELECT *, 0 AS dp0 FROM {source_cte})"]
    for i in range(1, max_len + 1):
        terms = [f"dp{i - 1} + {CHAR_COST}"]
        for j in range(2, MAX_PIECE + 1):
            if j > i:
                continue
            by_len = sorted(
                (p, c) for p, c in VOCAB.items() if len(p) == j
            )
            if not by_len:
                continue
            whens = " ".join(f"WHEN '{p}' THEN {c}" for p, c in by_len)
            case = (
                f"CASE substr({word_expr}, {i - j + 1}, {j}) "
                f"{whens} ELSE NULL END"
            )
            terms.append(f"COALESCE(dp{i - j} + ({case}), {UNREACHABLE})")
        level = f"LEAST({', '.join(terms)})" if len(terms) > 1 else terms[0]
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT *, {level} AS dp{i} FROM v{i - 1})"
        )
    final = "CASE length(" + word_expr + ")"
    for i in range(1, max_len + 1):
        final += f" WHEN {i} THEN dp{i}"
    final += " ELSE NULL END"
    return ctes, f"v{max_len}", final
