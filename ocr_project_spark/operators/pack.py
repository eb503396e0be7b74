"""Sequence packing: assign documents to fixed token-budget packs —
the batching step a pretraining pipeline runs after curation (concat
documents into ~budget-token training sequences, minimal padding).

The reference engine has no corpus ops; this extends the curation tier
(operators/curate.py) with the standard greedy first-fit packer.  The
greedy reset (a pack closes when the NEXT document would overflow)
is not expressible as a Spark window — a running sum cannot reset on
its own value — so the assignment runs in a NARROW Arrow-batched
kernel per partition: zero shuffle, pack ids scoped by partition id.

Scale contract: packing is partition-local and deterministic GIVEN the
partitioning (each partition packs its documents in ``id_col`` order;
packs never span partitions — at 10^12 docs a global greedy order
would serialize the job for no modeling benefit).  Callers wanting a
reproducible layout fix the partitioning first (stable input files, or
repartitionByRange(id_col)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_project_spark.functions.text import word_tokens


def _pack_bounds(counts, budget: int):
    """Greedy first-fit pack index per element of ``counts`` (numpy
    int array, id-order).  Loops over PACKS, not documents: each pack
    end is one np.searchsorted into the cumulative sum — O(packs *
    log n) instead of a per-document python loop.  A single document
    larger than ``budget`` gets a pack of its own."""
    import numpy as np

    n = len(counts)
    out = np.zeros(n, dtype=np.int64)
    csum = np.cumsum(counts, dtype=np.int64)
    start = 0
    pack = 0
    while start < n:
        base = csum[start - 1] if start else 0
        # last j with csum[j] - base <= budget; 'right' then step back
        end = int(np.searchsorted(csum, base + budget, side="right"))
        if end <= start:  # oversized single doc: own pack
            end = start + 1
        out[start:end] = pack
        pack += 1
        start = end
    return out


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, n_tokens, *carry_cols, pack_id) — greedy first-fit
    packing of documents into packs whose token sum stays <= ``budget``
    (except single documents that alone exceed it, which pack alone
    rather than being dropped — truncation is the trainer's decision).

    Token counts come from ``tokens_col`` when given (a precomputed
    count column), else ``size(word_tokens(text_col))`` computed
    JVM-side in the projection that feeds the kernel — the python
    kernel only ever sees (id, n_tokens) ints, never text.
    pack_id is ``'<partition>-<seq>'``: globally unique, stable given
    the input partitioning.  ``carry_cols`` pass through the kernel
    unchanged — a per-row key lets a caller whose ids repeat join the
    packing back onto its rows one to one.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    n_tokens = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.size(word_tokens(F.col(text_col)))
    )
    slim = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            # null counts (null precomputed column) pack as 0 tokens
            F.coalesce(n_tokens.cast("long"), F.lit(0)).alias("n_tokens"),
            *carry_cols,
            F.spark_partition_id().alias("_p"),
        )
        # narrow: order documents by id within each partition so the
        # packing is a pure function of (partitioning, ids, counts)
        .sortWithinPartitions("doc_id")
    )

    def kernel(batches):
        import numpy as np

        # STREAMING: each Arrow batch is packed and yielded as it
        # arrives; the open pack carries across batches as scalar
        # state (pack id offset, accumulated tokens, member count), so
        # memory stays one batch regardless of partition size.  The
        # carry is replayed by prepending one VIRTUAL element of size
        # acc to the batch's counts: greedy decisions depend only on
        # the open pack's total and non-emptiness, so the packing is
        # identical to running _pack_bounds over the whole partition.
        pack_off = 0  # id of the open pack
        acc = 0       # tokens already in the open pack
        n_in = 0      # members already in the open pack
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_tokens"].to_numpy()
            if n_in > 0:
                labels = _pack_bounds(
                    np.concatenate(([acc], counts)), budget
                )[1:]
            else:
                labels = _pack_bounds(counts, budget)
            part = int(pdf["_p"].iloc[0])
            out = pdf[["doc_id", "n_tokens", *carry_cols]].copy()
            out["pack_id"] = [f"{part}-{pack_off + p}" for p in labels]
            last = int(labels[-1])
            in_last = counts[labels == last]
            acc = int(in_last.sum()) + (acc if (last == 0 and n_in > 0) else 0)
            n_in = len(in_last) + (n_in if (last == 0 and n_in > 0) else 0)
            pack_off += last
            yield out

    from pyspark.sql.types import StringType, StructField, StructType

    base = slim.select("doc_id", "n_tokens", *carry_cols).schema
    # fresh StructType: .add() mutates its receiver in place
    out_schema = StructType(
        list(base.fields) + [StructField("pack_id", StringType(), True)]
    )
    return slim.mapInPandas(kernel, out_schema)


def window_documents(
    docs: DataFrame,
    window: int = 512,
    stride: int = 384,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strided token-window chunking — the pretraining dual of
    ``pack_sequences``: where packing concatenates SHORT documents up
    to a token budget, windowing splits LONG documents into
    fixed-size overlapping training contexts (the HuggingFace
    ``return_overflowing_tokens`` convention: windows start every
    ``stride`` tokens, each ``window`` tokens long, the tail window
    truncated — no token is lost, consecutive windows share
    ``window - stride`` tokens of context).

    Returns (doc_id, win_id, start, text, n_tokens), one row per
    window, ``n_windows = 1 + max(0, ceil((n - window) / stride))``;
    an empty/null document emits one empty window (win_id 0) so
    callers keep never-drop accounting.

    Scale shape: pure codegen'd HOF (tokens -> sequence -> slice ->
    posexplode) with ZERO shuffle — chunking is row-local, the
    narrowest possible plan; output rows inherit the scan
    partitioning, so the input-layout rule (README) bounds the
    write-side parallelism exactly as it bounds the scan.  The token
    array is materialized in a projection first — an inline
    ``word_tokens(text)`` inside the transform lambda would
    re-tokenize the document once per window (the documented
    O(tokens x windows) HOF trap, functions/text.chunk_tokens).
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    if stride > window:
        # stride > window leaves inter-window token gaps (violating the
        # no-token-lost contract) and the window-count formula then
        # over-counts, emitting empty trailing windows — caught by the
        # hypothesis fuzz (test_properties) on ('the the', W=1, S=2)
        raise ValueError("stride must be <= window (overlap convention)")
    t = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("_t")
    )
    n = F.size(F.col("_t"))
    n_win = (
        F.lit(1)
        + F.greatest(F.lit(0), F.ceil((n - F.lit(window)) / F.lit(stride)))
    ).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.slice(F.col("_t"), i * stride + 1, window),
    )
    ex = t.select("doc_id", F.posexplode(wins).alias("win_id", "_w"))
    return ex.select(
        "doc_id",
        F.col("win_id").cast("long").alias("win_id"),
        (F.col("win_id") * stride).cast("long").alias("start"),
        F.array_join(F.col("_w"), " ").alias("text"),
        F.size(F.col("_w")).cast("long").alias("n_tokens"),
    )
