"""hash(doc_id) partitioning with salting for skewed mega-documents.

North_rule clauses implemented here:

* ``bucket = pmod(hash(doc_id), n_buckets)`` — the stable unit of
  checkpointing and output layout (FIXTURES.md section 1: "partition
  column for scale runs").  hash() is Spark's Murmur3, so the bucket of
  a document never depends on cluster size, input ordering, or session
  — a restart resumes exactly the buckets it committed.

* task-level salting — the extraction pipeline keeps each document as
  ONE row (spans stay nested), so skew is bytes-per-task, not
  key-collision.  Two distinct skews and their remedies:

  - inter-doc skew (a few mega-documents land in the same hash
    partition): repartition on ``hash(doc_id, salt)`` where the salt
    term is non-zero only for documents whose span count exceeds a
    threshold, spreading the giants across ``salt_buckets`` partitions
    without touching the placement of normal documents.

  - hot-key skew in *exploded* stages (the fusion groupBy sees many
    candidate rows for one (doc_id, offset)): handled by AQE skew
    splitting (session.py enables spark.sql.adaptive.skewJoin).

* intra-doc chunking — a single 10^8-span document cannot be split by
  salting (grouped/UDF stages see whole rows).  ``chunk_documents``
  splits the span array into bounded chunks (one row each) so per-span
  stages parallelize across tasks; ``reassemble_chunks`` restores one
  row per document with a final per-doc stable sort, which is safe
  because the output ``order`` field is recomputed from span offsets
  (SURVEY.md section 7.5 item 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Documents with more spans than this get salted / chunked.  The
# fixture mega-doc is 400 spans vs a ~9-span median (sources/generate.py),
# mirroring the P95 rule of SURVEY.md section 4 item 2.
DEFAULT_MEGA_SPAN_THRESHOLD = 256

# How many partitions a mega-document family spreads over.
DEFAULT_SALT_BUCKETS = 8


def bucket_expr(doc_id: Column | str, n_buckets: int) -> Column:
    """Stable checkpoint bucket: pmod(murmur3(doc_id), n)."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.pmod(F.hash(c), F.lit(n_buckets)).cast("int")


def with_bucket(docs: DataFrame, n_buckets: int, col_name: str = "bucket") -> DataFrame:
    return docs.withColumn(col_name, bucket_expr("doc_id", n_buckets))


def salt_expr(
    doc_id: Column | str,
    size_col: Column,
    threshold: int = DEFAULT_MEGA_SPAN_THRESHOLD,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> Column:
    """0 for normal docs; a deterministic 1..salt_buckets value for
    mega-docs so hot doc_ids fan out across partitions.

    The salt term hashes (doc_id, size, spark_partition_id): a
    different hash family than the Murmur3 used for placement (so two
    mega-docs that collide under hash(doc_id) still separate), plus the
    INPUT partition id so a hot doc_id replicated across many input
    splits fans out — while staying stable under task retry/replay
    (the partition id is pinned to the input split;
    monotonically_increasing_id is not — it depends on runtime row
    order, so a retried task could re-salt rows differently).
    Byte-identical clones within one input split co-locate; clones
    across splits spread.
    """
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    row_term = F.pmod(
        F.xxhash64(c, size_col, F.spark_partition_id()), F.lit(salt_buckets)
    )
    return F.when(size_col > F.lit(threshold), row_term + F.lit(1)).otherwise(
        F.lit(0)
    )


def repartition_for_extract(
    docs: DataFrame,
    num_partitions: int,
    threshold: int = DEFAULT_MEGA_SPAN_THRESHOLD,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Explicit hash(doc_id [, salt]) exchange ahead of the extraction
    stages — the north_rule's "explicit repartition + AQE" clause.

    Normal docs co-locate by doc_id (salt = 0 keeps them stable);
    mega-docs and hot repeated keys scatter across salt_buckets
    partitions.  The extraction pipeline is row-local after fusion, so
    scattering never changes results — only task balance.
    """
    salted = docs.withColumn(
        "_salt",
        salt_expr("doc_id", F.size(F.coalesce(F.col("spans"), F.array())),
                  threshold, salt_buckets),
    )
    return salted.repartition(num_partitions, F.col("doc_id"), F.col("_salt")).drop(
        "_salt"
    )


def chunk_documents(
    docs: DataFrame,
    max_spans_per_chunk: int = DEFAULT_MEGA_SPAN_THRESHOLD,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, spans) -> (doc_id, chunk_id, spans) with bounded chunks.

    Spans are sorted by (offset, storage idx) BEFORE slicing so that a
    chunk boundary is also an offset boundary; reassembly can then
    simply concatenate chunks in chunk_id order.  Empty/null span
    arrays keep one empty chunk so no document is lost.

    ``carry_cols`` names per-document columns to replicate onto every
    chunk row (e.g. the never-fail ``status`` struct) so callers can
    chunk in the SAME scan that computed them instead of forking the
    lineage into a second full read of the input.

    The sort key array is MATERIALIZED in its own projection before
    the per-chunk transform references it — the standard HOF-recompute
    trap (functions/text.chunk_tokens docstring): an inline
    ``array_sort(...)`` subexpression inside the chunk lambda is
    re-evaluated once PER CHUNK, which on the mega-docs this operator
    exists for means re-sorting the full array n/chunk times —
    O(n^2/chunk) churn per document.  Measured on the skewed bench
    corpus (P99 span count 12000): 19.1 s inline vs 2.1 s materialized
    for the full extract_chunked pipeline.

    The sort itself runs over (offset, idx) INT PAIRS only, never the
    span structs: sorting structs drags every kind/text/media_ref
    string through each comparison swap, and on a 4M-span document
    that struct sort alone cost 7.4 s of a 9.2 s pipeline — the whole
    serial budget the chunker is supposed to relieve.  Chunks are then
    built by element_at back into the original span array, so strings
    are copied exactly once, into their destination chunk (measured
    1x4M-span doc: chunk build 7.4 s -> ~1 s; see PLANS.md "mega-doc
    crossover bench").
    """
    spans_c = F.coalesce(F.col("spans"), F.array())
    keys = F.array_sort(
        F.transform(
            spans_c,
            lambda s, i: F.struct(s["offset"].alias("o"), i.alias("idx")),
        )
    )
    with_sorted = docs.select(
        "doc_id", spans_c.alias("_spans"), keys.alias("_keys"), *carry_cols
    )
    sorted_keys = F.col("_keys")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(F.size(sorted_keys) / F.lit(max_spans_per_chunk)).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda c: F.struct(
            c.alias("chunk_id"),
            F.transform(
                F.slice(
                    sorted_keys,
                    c * F.lit(max_spans_per_chunk) + F.lit(1),
                    F.lit(max_spans_per_chunk),
                ),
                # the original span struct verbatim — its fields are
                # already (kind, text, media_ref, offset), so one
                # element_at per span and zero per-field rebuilds
                lambda k: F.element_at(F.col("_spans"), k["idx"] + F.lit(1)),
            ).alias("spans"),
        ),
    )
    # explode_outer + isNotNull, not plain explode: a plain explode lets
    # the optimizer infer `size(chunks) > 0` and push it down, which
    # duplicates the whole chunk-building transform into an interpreted
    # scan-level Filter (measured 5.6x on the analogous flatten in
    # harness._spans_out_flat).  chunks is never empty (n_chunks >= 1),
    # so the post-filter only restores the type contract.
    return (
        with_sorted.select(
            "doc_id", F.explode_outer(chunks).alias("_c"), *carry_cols
        )
        .where(F.col("_c").isNotNull())
        .select(
            "doc_id",
            F.col("_c.chunk_id").alias("chunk_id"),
            F.col("_c.spans").alias("spans"),
            *carry_cols,
        )
    )


def reassemble_chunks(
    extracted_chunks: DataFrame, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, chunk_id, spans[out]) -> (doc_id, spans[out]) with the
    dense ``order`` field recomputed across chunk boundaries.

    collect_list order is not deterministic after a shuffle, so chunks
    are re-sorted by chunk_id inside the array before flattening; the
    within-chunk order field (dense, 0-based) is preserved by the
    chunker's offset-boundary guarantee.

    ``carry_cols`` are per-document columns replicated on every chunk
    (chunk_documents' carry_cols); each is restored with first() —
    all chunks of a document carry identical values by construction.
    """
    per_doc = extracted_chunks.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("chunk_id"), F.col("spans").alias("spans")))
        ).alias("chunks"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    flat = F.flatten(F.transform(F.col("chunks"), lambda c: c["spans"]))
    renumbered = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    return per_doc.select("doc_id", renumbered.alias("spans"), *carry_cols)
