"""Byte-pair-encoding tokenizer tier: learn merges on a bounded
corpus sample, apply them corpus-wide.

The engine's other token counts are regex-word counts
(functions/text.word_tokens — the reference's word statistics,
engine_manager.py:320-321); sequence packing and token budgeting for
an LLM trainer need TOKENIZER token counts, which differ from word
counts by the subword fan-out.  This module supplies that: classic
BPE (Sennrich et al. 2016) with end-of-word markers.

Division of labor, Spark-first and honest about it: merge LEARNING is
inherently sequential (each merge depends on the counts after the
previous one), so like SentencePiece/HF-tokenizers practice it runs
driver-side over a deterministic bounded sample — vocabulary learning
is sample-based in every production pipeline, and n_merges x
vocab-size work is trivial driver compute.  APPLICATION is the
corpus-scale part and runs distributed: the merge table (tiny) ships
in an Arrow-batched pandas UDF closure; no shuffle, no per-row Python
— one vectorized batch crossing per partition.  Not SQL-replayable
(iterative greedy merges), so pytest pins it against a pure-python
reference instead of a DuckDB oracle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_RE = re.compile(r"[^a-z0-9]+")
EOW = "</w>"


def _words(text: str | None) -> list[str]:
    """Python twin of functions/text.word_tokens (pinned equal by
    tests/test_properties.py-style lockstep in test_bpe.py)."""
    return [w for w in _WORD_RE.split((text or "").lower()) if w]


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for sym, freq in vocab.items():
        for a, b in zip(sym, sym[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + freq
    return counts


def _merge_vocab(
    vocab: dict[tuple[str, ...], int], pair: tuple[str, str]
) -> dict[tuple[str, ...], int]:
    a, b = pair
    merged = a + b
    out: dict[tuple[str, ...], int] = {}
    for sym, freq in vocab.items():
        s = list(sym)
        i, res = 0, []
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                res.append(merged)
                i += 2
            else:
                res.append(s[i])
                i += 1
        key = tuple(res)
        out[key] = out.get(key, 0) + freq
    return out


def learn_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    sample_docs: int = 10_000,
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from a deterministic sample
    (first ``sample_docs`` rows by id — reproducible across runs and
    partitionings).  Ties in pair frequency break lexicographically so
    the merge list is unique for a given sample.  Stops early when no
    pair repeats."""
    rows = (
        docs.select(F.col(id_col), F.col(text_col).alias("_t"))
        .orderBy(id_col)
        .limit(sample_docs)
        .collect()
    )
    freqs: dict[str, int] = {}
    for r in rows:
        for w in _words(r["_t"]):
            freqs[w] = freqs.get(w, 0) + 1
    vocab = {tuple(w) + (EOW,): f for w, f in freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic: max count, ties -> lexicographically smallest pair
        top = max(counts.values())
        cand = sorted(p for p, c in counts.items() if c == top)
        pair = cand[0]
        if top < 2:
            break
        vocab = _merge_vocab(vocab, pair)
        merges.append(pair)
    return merges


def bpe_encode(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one (already word-tokenized) word with a learned merge
    table — the pure-python reference the distributed path is pinned
    against."""
    s = list(word) + [EOW]
    while len(s) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(s, s[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        s[best_i : best_i + 2] = [s[best_i] + s[best_i + 1]]
    return s


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    return_tokens: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tokenize the corpus with a learned merge table, distributed.

    Returns (id, *carry_cols, n_words, n_bpe_tokens[, bpe_tokens]);
    ``n_bpe_tokens`` is the real packing/budgeting count (>= n_words:
    each word yields at least one subword).  ``return_tokens`` adds the
    full subword array — off by default, the count is what the packing
    tier needs and the array triples the output width.  ``carry_cols``
    ride along unchanged, e.g. a per-row key where ids repeat.

    Shape at scale: the merge table is a closure-shipped dict of at
    most n_merges entries (kilobytes); the UDF is Arrow-batched
    (pandas_udf) so the only Python crossing is one columnar batch per
    partition — no shuffle at all; composes with
    operators/pack.pack_sequences(tokens_col=...).
    """
    from pyspark.sql import types as T

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: list[str] = []
            for w in _words(t):
                toks.extend(bpe_encode(w, ranks))
            out.append(toks)
        return pd.Series(out)

    @F.pandas_udf(T.LongType())
    def _count(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            n = 0
            for w in _words(t):
                n += len(bpe_encode(w, ranks))
            out.append(n)
        return pd.Series(out)

    from ocr_project_spark.functions.text import word_tokens

    base = docs.select(
        F.col(id_col),
        *carry_cols,
        F.size(word_tokens(F.col(text_col))).cast("long").alias("n_words"),
        F.col(text_col).alias("_t"),
    )
    if return_tokens:
        enc = base.withColumn("bpe_tokens", _encode(F.col("_t")))
        return enc.select(
            id_col,
            *carry_cols,
            "n_words",
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
            "bpe_tokens",
        )
    return base.select(
        id_col, *carry_cols, "n_words", _count(F.col("_t")).alias("n_bpe_tokens")
    )
