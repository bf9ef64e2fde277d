"""Distributed BPE (byte-pair encoding) tokenizer training + encoding
(SURVEY.md §7.4 extension — the real-tokenizer upgrade over text.py's
``bpe_ish_token_count`` heuristic; no reference counterpart).

Classic algorithm (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units" — public): start from characters,
repeatedly merge the most frequent adjacent symbol pair. The scale
decomposition used here:

- the CORPUS-sized work — word counting — is one distributed
  groupBy(word) over exploded tokens. 100 TB of text collapses to a
  distinct-word table (natural-language vocabularies are ~1e6-1e8
  distinct words, thousands of times smaller than the corpus, and
  Zipf-skewed so the count agg partial-aggregates map-side);
- the ITERATIVE work — the merge loop — runs over that word-count
  table only: each round is one explode+groupBy pair-count (weighted
  by word frequency) + an argmax collect of ONE row + a map-side
  merge rewrite. The corpus is never touched again. The driver holds
  only the merge list (n_merges pairs), same shape as kmeans_fit's
  centroid state; localCheckpoint truncates the growing lineage the
  same way dedup's connected-components loop does.
- ENCODING with a trained merge list is embarrassingly parallel: an
  Arrow-batched pandas UDF applies merges per word in rank order
  (the merge table broadcasts by closure), map-only.

Determinism: pair-count ties break lexicographically on the pair
itself (max count, then min (a, b)), so training is reproducible under
any partitioning. End-of-word is marked with the conventional '</w>'
sentinel so merges never cross word boundaries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType

EOW = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, n) — the ONLY corpus-scale pass of BPE training.
    Lowercased whitespace words; one explode + one map-side-combinable
    groupBy."""
    return (
        df.select(
            F.explode(
                F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _to_symbols() -> Column:
    """word → initial symbol array: characters + the end-of-word mark
    fused to the last character (the standard formulation)."""
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    return F.transform(
        chars,
        lambda c, i: F.when(i == n - 1, F.concat(c, F.lit(EOW))).otherwise(c),
    )


def bpe_train(
    words: DataFrame, n_merges: int = 50, checkpoint_every: int = 10
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merge rules from a (word, n) table. Each
    round: explode adjacent symbol pairs weighted by word count, take
    the (max n, lexicographically-least pair) argmax — a ONE-ROW
    collect — then rewrite the symbol arrays with that pair merged
    (map-side pandas UDF; no shuffle). Stops early when no pair occurs
    twice. Returns the ordered merge list ``bpe_encode`` consumes."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be > 0, got {n_merges}")
    # materialize the distinct-word table ONCE: `words` usually carries
    # the corpus tokenize+groupBy lineage, and every round's pair-count
    # job below would replay that full corpus scan (then j merge UDFs
    # on top by round j). After this checkpoint each round touches only
    # the compact (n, syms) table; checkpoint_every keeps the growing
    # merge-UDF chain bounded between rounds.
    sym = words.select(F.col("n"), _to_symbols().alias("syms")).localCheckpoint(
        eager=True
    )
    merges: list[tuple[str, str]] = []
    for round_no in range(n_merges):
        pairs = (
            sym.select(
                F.col("n"),
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(s, i) -> struct(s as a, syms[i + 1] as b))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["cnt"] < 2:
            break
        best = (pairs[0]["p"]["a"], pairs[0]["p"]["b"])
        merges.append(best)
        sym = sym.select(F.col("n"), _merge_udf(best)(F.col("syms")).alias("syms"))
        if (round_no + 1) % checkpoint_every == 0:
            # truncate the n-deep UDF lineage like the CC loop does
            sym = sym.localCheckpoint(eager=True)
    return merges


def _merge_udf(pair: tuple[str, str]):
    """Factory: merge every adjacent (a, b) occurrence into 'ab' in one
    Arrow pass (left-to-right, non-overlapping — the BPE rule)."""
    a, b = pair

    @pandas_udf(ArrayType(StringType()))
    def _merge(syms: pd.Series) -> pd.Series:
        out = []
        for s in syms:
            s = list(s)
            merged, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            out.append(merged)
        return pd.Series(out)

    return _merge


def _apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word: repeatedly merge the lowest-rank adjacent pair
    (exact BPE inference, matching the training order)."""
    syms = [c for c in word]
    if syms:
        syms[-1] = syms[-1] + EOW
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a text column with a trained merge list — map-only
    Arrow pass; the merge table (n_merges pairs) rides the closure
    exactly like PQ codebooks do."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @pandas_udf(ArrayType(StringType()))
    def _enc(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().split():
                toks.extend(_apply_merges(w, ranks))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Exact trained-tokenizer token counts — the real version of
    text.bpe_ish_token_count, e.g. to feed packing.pack_sequences."""
    counted = bpe_encode(df, merges, text_col, "__toks")

    @pandas_udf(IntegerType())
    def _len(toks: pd.Series) -> pd.Series:
        return toks.str.len().astype("int32")

    return counted.withColumn(out_col, _len(F.col("__toks"))).drop("__toks")


def build_vocab(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Deterministic (token, token_id) vocabulary from a trained merge
    list over a corpus: the distinct encoded symbols, ids assigned in
    lexicographic order (reproducible across runs and partitionings —
    ids must be STABLE or every re-run silently re-labels the training
    data). One distinct shuffle over exploded tokens; the vocab is
    merge-bounded (≤ alphabet + n_merges symbols), driver-small by
    construction."""
    from pyspark.sql import Window

    toks = (
        bpe_encode(df, merges, text_col, "__toks")
        .select(F.explode("__toks").alias("token"))
        .distinct()
    )
    w = Window.orderBy("token")
    # single tiny table: the global sort window is over vocab-sized
    # rows (≤ alphabet+n_merges), not the corpus
    return toks.withColumn(
        "token_id", F.row_number().over(w).cast("int") - 1
    )


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: DataFrame,
    text_col: str = "text",
    out_col: str = "token_ids",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Materialize token-ID arrays — what a training pipeline actually
    writes next to `packing.pack_sequences`. Plan shape: posexplode
    the encoded tokens, BROADCAST-join the (tiny, merge-bounded)
    vocab, re-assemble per doc with a sort_array on position — the
    corpus text moves once into the explode and only (id, pos,
    token_id) ints ride the re-assembly shuffle. Out-of-vocab tokens
    (a later corpus batch against a frozen vocab) map to ``unk_id``,
    never dropped — silent token loss would corrupt every downstream
    count."""
    enc = bpe_encode(df, merges, text_col, "__toks")
    exploded = enc.select(
        id_col, F.posexplode("__toks").alias("__pos", "token")
    )
    joined = exploded.join(F.broadcast(vocab), on="token", how="left").select(
        id_col,
        "__pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("__tid"),
    )
    ids = (
        joined.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__tid"))
                ),
                lambda s: s["__tid"],
            ).alias(out_col)
        )
    )
    # empty docs produce no exploded rows — restore them with []
    return df.select(id_col).join(ids, id_col, "left").select(
        id_col,
        F.coalesce(F.col(out_col), F.array().cast("array<int>")).alias(out_col),
    )
