"""Distributed BPE tokenizer training — the iterative loop over the
oracle-checked single step (llm/text.py q_bpe_merge_step).

Algorithm (Sennrich et al., ACL 2016), distributed the classic way: the
corpus compresses to a frequency-weighted DISTINCT-word vocabulary once;
every iteration counts adjacent symbol pairs over that vocabulary (weighted
by word frequency), picks the most frequent pair (deterministic tiebreak:
count desc, then pair lexicographic), and re-segments the vocabulary by
merging that pair left-to-right greedily. The corpus is never touched again
after the vocabulary build — at 100 TB that is the difference between
trillions of token occurrences and millions of vocabulary rows per round.

Everything stays JVM-side: pair extraction is a higher-order transform over
the symbol arrays, the left-to-right merge is an aggregate() fold with a
(out, skip) struct accumulator — no Python in the loop body. Per round: one
vocabulary-sized pair aggregation whose 1-row collect (the chosen merge)
also materializes the round's vocabulary checkpoint (plans.ckpt.iterate),
so lineage stays O(1) at one Spark action per merge.

Pinned in tests/test_llm_ops.py against a pure-Python reference BPE trainer:
identical merge tables for 8 rounds on the real corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.ckpt import evict_round_checkpoint, iterate


def _merge_pair_expr(left: str, right: str) -> str:
    """SQL expression rewriting `syms` with every adjacent (left, right)
    merged into one symbol, left-to-right greedy (after a merge the right
    symbol cannot start another merge — the `skip` flag)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "\\'") + "'"

    merged = q(left + right)
    return f"""
aggregate(
  sequence(0, size(syms) - 1),
  struct(CAST(array() AS ARRAY<STRING>) AS out, false AS skip),
  (acc, i) -> CASE
    WHEN acc.skip THEN struct(acc.out AS out, false AS skip)
    WHEN i < size(syms) - 1 AND syms[i] = {q(left)} AND syms[i + 1] = {q(right)}
      THEN struct(concat(acc.out, array({merged})) AS out, true AS skip)
    ELSE struct(concat(acc.out, array(syms[i])) AS out, false AS skip)
  END,
  acc -> acc.out
)"""


def bpe_train(documents: DataFrame, n_merges: int = 8) -> list[tuple[str, str, int]]:
    """Learn the first n_merges BPE merge rules from the corpus. Returns
    [(left_symbol, right_symbol, weighted_pair_count), ...] in merge order."""
    vocab = (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn("syms", F.expr("split(word, '')"))
    )

    def top_pair(v: DataFrame):
        pairs = v.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                )
            ).alias("p"),
        ).where(F.expr("size(syms) >= 2"))
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        return (top[0].l, top[0].r, int(top[0].cnt)) if top else None

    # Round i applies merge i-1 and its probe picks merge i, so the
    # vocabulary is materialized with the pair count that reads it.
    merges: list[tuple[str, str, int]] = []

    def merge_round(v: DataFrame, top, _i) -> DataFrame | None:
        if top is None:
            return None  # no adjacent pair left to merge
        merges.append(top)
        return v.withColumn("syms", F.expr(_merge_pair_expr(top[0], top[1])))

    vocab, top, _ = iterate(
        vocab,
        merge_round,
        top_pair,
        rounds=n_merges - 1,
    )
    # The function returns a plain Python list — no plan survives.
    evict_round_checkpoint(vocab)
    return (merges + [top] if top else merges)[:n_merges]


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION — encode the corpus with a trained merge table.
# ---------------------------------------------------------------------------

# The tokenizer artifact: the 12 merges bpe_train() learns on the sf0.01
# corpus (deterministic: count desc, pair-lexicographic tiebreak). Production
# tokenizers are trained once and applied to arbitrary corpora, so the merge
# table is a CONSTANT here — the same rules encode every scale factor, which
# also keeps the oracle SQL static.
TOKENIZER_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]

# Private-use-area char per merged symbol: in the string-level encoding every
# symbol (original char or merge product) is exactly ONE character, so merge
# rule i is a plain replace of a 2-char needle by placeholder chr(0xE000+i).
_PUA = 0xE000


def _sym_char_map(merges: list[tuple[str, str]]) -> dict[str, str]:
    """symbol string -> its 1-char representation under the placeholders."""
    m: dict[str, str] = {}
    for i, (l, r) in enumerate(merges):
        m[l + r] = chr(_PUA + i)
    return m


def bpe_encode_chain(col: str, merges: list[tuple[str, str]]) -> str:
    """SQL expression encoding ``col`` with the merge table via chained
    replace() calls — valid verbatim in Spark SQL and DuckDB.

    Why this equals BPE encoding: applying merge rules in training order,
    each exhaustively left-to-right, is the standard greedy BPE encoder;
    and because every symbol is one char (placeholders for merge products),
    rule (l, r) is the 2-char needle char(l)+char(r), and SQL replace()
    substitutes non-overlapping occurrences scanning left-to-right — exactly
    the (out, skip) fold the trainer uses to re-segment its vocabulary
    (pinned against a pure-Python encoder in tests/test_llm_ops.py).
    Symbols never contain spaces (training splits on words), so the chain
    can run over the whole normalized text instead of per word — a pure
    map with no explode and no shuffle.
    """
    syms = _sym_char_map(merges)

    def char_of(sym: str) -> str:
        return syms.get(sym, sym) if len(sym) > 1 or sym in syms else sym

    expr = col
    for i, (l, r) in enumerate(merges):
        lc = syms[l] if l in syms and len(l) > 1 else l
        rc = syms[r] if r in syms and len(r) > 1 else r
        needle = (lc + rc).replace("'", "\\'")
        expr = f"replace({expr}, '{needle}', '{chr(_PUA + i)}')"
    return expr


def _bpe_encode_sql(d) -> str:
    """Per-document BPE token accounting under the fixed tokenizer.

    Space-collapse first so words are single-space separated; spaces are
    untouched by the chain (no merge symbol contains one), so per-doc token
    count = length(encoded) - (n_words - 1). n_words is computed by space
    counting — engine-common, no split() dialect divergence. Everything is
    exact integer arithmetic; the compression ratio is fixed-point ppm.
    """
    # GREATEST(.., 1) guards the all-whitespace-document edge (token count 0
    # would make the ratio a division by zero — DuckDB throws, Spark NULLs).
    collapse = (
        "regexp_replace(text, ' +', ' ')"
        if d.name == "spark"
        else "regexp_replace(text, ' +', ' ', 'g')"
    )
    chain = bpe_encode_chain("t", TOKENIZER_MERGES)
    return f"""
WITH norm AS (
  SELECT doc_id, lang, trim({collapse}) AS t FROM documents
),
enc AS (
  SELECT doc_id, lang,
         CAST(length(t) - length(replace(t, ' ', '')) + 1 AS BIGINT) AS n_words,
         CAST(length(t) AS BIGINT) AS n_norm,
         CAST(length({chain}) AS BIGINT) AS n_enc
  FROM norm
)
SELECT doc_id, lang, n_words,
  n_norm - n_words + 1 AS n_syms,
  n_enc - n_words + 1 AS n_bpe_tokens,
  {d.idiv('(n_norm - n_words + 1) * 1000000', 'GREATEST(n_enc - n_words + 1, 1)')} AS compression_ppm
FROM enc
"""


def _register() -> None:
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_bpe_encode",
        spark_sql=_bpe_encode_sql(SPARK),
        duck_sql=_bpe_encode_sql(DUCK),
        tables=["documents"],
        doc="Tokenizer APPLICATION at corpus scale: encode every document "
        "with the trained 12-merge BPE artifact (TOKENIZER_MERGES — learned "
        "once by bpe_train, then a constant, the way production tokenizers "
        "ship) and account tokens per doc + fixed-point compression ratio. "
        "The encoder is a chain of 12 replace() calls over the whole "
        "normalized text — each symbol is one char (private-use placeholders "
        "for merge products), so rule application is a 2-char needle replace "
        "whose left-to-right non-overlap semantics EQUAL the greedy BPE fold "
        "(pinned vs a pure-Python encoder in tests/test_llm_ops.py). Pure "
        "map: no explode, no join, no shuffle at any scale — the scan reads "
        "only (doc_id, lang, text) and every row is independent, so 100 TB "
        "is embarrassingly parallel and the plan is one WholeStageCodegen "
        "span over the parquet scan.",
    )


_register()
