"""The flagship extraction pipeline: detect -> recognize -> fuse over
interleaved documents, as one declarative DataFrame plan.

The reference runs this per document in a Python call chain
(/root/reference/src/advanced_ocr/pipeline.py:63-96); here the corpus is
the DataFrame and each stage is a columnar transformation:

  1. validity filter (F1, base_engine.py:86-112)
  2. media-candidate winners: one aggregate per (doc_id, offset),
     min_by under the fusion order (functions/fuse.fusion_order_key).
     Assembly reads only the winning text, so no window sort, Jaccard
     or consensus math runs here; retry fusion (retry_candidates=)
     still runs the full functions/fuse.fuse_with_retry
  3. winners collapsed to one map per doc — shuffle on doc_id
  4. LEFT join docs->fused map on doc_id (docs never exploded; span
     arrays stay nested, so mega-doc skew stays inside one row and the
     join key is the single hash(doc_id))
  5. per-doc assembly with higher-order functions: stable sort by
     (offset, storage index), media resolution via map lookup,
     boilerplate strip (functions/classify.py), dense re-rank ->
     (kind, text, media_ref, order)

Every stage runs in the JVM with no Python; the only shuffles are the
two hash exchanges in 2-4.  Stage 5's higher-order functions are
``CodegenFallback``: their lambda bodies are interpreted per element,
with no common-subexpression elimination, so a per-span value the
lambda uses twice is bound once (functions/classify.is_content_expr).

Scale note: at 10^12 docs the fused side of the join is ~1 row per doc
(pre-aggregated), so AQE can pick a shuffled hash join with skew
splitting; the docs side is hash(doc_id)-partitioned by
plans/partitioning.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_project_spark.functions.classify import is_content_expr
from ocr_project_spark.functions.fuse import fuse_with_retry, fusion_order_key


def _sort_permutation(spans: Column) -> Column:
    """Stable (offset, storage index) permutation of the span array.

    The storage array order is untrusted (FIXTURES.md: shuffled on
    write); the reference likewise re-sorts geometrically at
    paddleocr.py:291-294.  Duplicate offsets keep storage order (the
    documented stable-sort choice), pinned by the idx field.

    Memory note: sorting only (o, idx) pairs and gathering afterwards
    moves ~3x fewer bytes than sorting full 5-field structs with
    strings — this expression runs once per document across 10^12
    docs, and on a saturated-socket benchmark the smaller working set
    is worth ~15% wall time.
    """
    pairs = F.transform(
        spans, lambda s, i: F.struct(s["offset"].alias("o"), i.alias("idx"))
    )
    # array_sort on structs orders by fields left-to-right: (o, idx).
    return F.array_sort(pairs)


def _media_or_content(s: Column) -> Column:
    """The built-in keep rule: media spans always, text spans when the
    boilerplate classifier calls them content."""
    return (s["kind"] == F.lit("media")) | is_content_expr(s["text"])


def assemble_expr(
    spans: Column,
    fused_map: Column,
    keep: Callable[[Column], Column] = _media_or_content,
) -> Column:
    """spans + map<offset, struct<t,c>> -> output span array.

    One gather pass resolves media text from the fused map and keeps
    the spans ``keep`` accepts (boilerplate strip); a final transform
    assigns the dense ``order``.  All passes are JVM-side HOFs — no
    Python — whose lambdas are interpreted per element, not codegen'd.
    ``keep`` is a span-struct predicate; a custom classifier
    (operators/extract_pandas.py) swaps its keep mask in through it.
    """
    gathered = F.transform(
        _sort_permutation(spans),
        lambda p: F.element_at(spans, p["idx"] + 1),
    )
    kept = F.filter(gathered, keep)
    return F.transform(
        kept,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            resolved_text(s, fused_map).alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )


def resolved_text(s: Column, fused_map: Column) -> Column:
    """A span's output text: a media span's fused text when the map has
    its offset, else the span's own text."""
    return F.when(
        (s["kind"] == F.lit("media"))
        & F.element_at(fused_map, s["offset"]).isNotNull(),
        F.element_at(fused_map, s["offset"])["t"],
    ).otherwise(s["text"])


SPAN_ARRAY_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
)
# Input-side span type (storage offset, pre-extraction) — used where an
# empty array must match the SOURCE schema, e.g. forcing invalid docs'
# spans empty before they ride the chunked single-scan plan.
INPUT_SPAN_ARRAY_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _status(ok: bool, reason: str | None) -> Column:
    return F.struct(
        F.lit(ok).alias("ok"), F.lit(reason).cast("string").alias("reason")
    )


def doc_status_expr() -> Column:
    """Never-fail input validation — the reference's per-image
    error-result contract (pipeline.py:286-309, engine_manager.py:132-142
    turn per-item exceptions into error results; a batch never dies).
    Invalid documents become ``status.ok = false`` rows with a reason,
    NOT dropped rows: at 10^12 docs silent drops are undetectable and
    unauditable.  Reasons, checked in order:

      null_doc_id     no identity — cannot join candidates or dedupe
      null_spans      spans column itself is NULL (absent payload)
      malformed_span  some span lacks the fields assembly sorts and
                      classifies on (offset / kind)
    """
    from ocr_project_spark import errors

    bad_span = F.exists(
        F.col("spans"), lambda s: s["offset"].isNull() | s["kind"].isNull()
    )
    return (
        F.when(
            F.col("doc_id").isNull(), _status(False, errors.REASON_NULL_DOC_ID)
        )
        .when(F.col("spans").isNull(), _status(False, errors.REASON_NULL_SPANS))
        .when(bad_span, _status(False, errors.REASON_MALFORMED_SPAN))
        .otherwise(_status(True, None))
    )


def _with_fused_map(
    docs: DataFrame,
    candidates: DataFrame | None,
    retry_candidates: DataFrame | None = None,
    retry_threshold: float = 0.3,
) -> DataFrame:
    """docs + ``fused_map``: map<offset, struct<t, c>> of each media
    span's resolved text, NULL for documents without candidates.

    Without retry candidates the map holds the per-span winner — the
    row fuse_media_candidates ranks first — with its own confidence:
    assembly reads only ``t``, and the fused text is always the
    winner's, so the window, Jaccard and consensus math would build
    state nothing reads.  With retry candidates ``c`` is the fused
    confidence of the two-pass form, whose route needs it.
    """
    if candidates is None:
        return docs.withColumn(
            "fused_map", F.lit(None).cast("map<int,struct<t:string,c:double>>")
        )
    entry = F.struct(F.col("text").alias("t"), F.col("confidence").alias("c"))
    if retry_candidates is not None:
        entries = fuse_with_retry(
            candidates, retry_candidates, threshold=retry_threshold
        ).select("doc_id", "offset", entry.alias("w"))
    else:
        entries = candidates.groupBy("doc_id", "offset").agg(
            F.min_by(entry, fusion_order_key()).alias("w")
        )
    # The fused side is one row per media-bearing document — corpus
    # scale, never broadcastable at 10^12 docs, and a broadcast build
    # is a serial Amdahl term that caps scaling efficiency (measured:
    # 0.64 -> broadcast, see tools/scaling_bench.py).  Force the
    # co-partitioned shuffled hash join.
    fused_map = entries.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("offset"), F.col("w")))
        ).alias("fused_map")
    )
    return docs.join(fused_map.hint("shuffle_hash"), "doc_id", "left")


def extract(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    passthrough: list[str] | None = None,
    retry_candidates: DataFrame | None = None,
    retry_threshold: float = 0.3,
) -> DataFrame:
    """Full pipeline: (doc_id, spans) [+ candidates] ->
    (doc_id, spans out, status).

    ``passthrough`` carries extra input columns (e.g. a per-doc strategy
    computed upstream) into the output unchanged.

    ``retry_candidates`` plugs the PSM-retry analog
    (functions/fuse.fuse_with_retry, reference tesseract.py:111-143)
    into the flagship pipeline: when given, media fusion runs the
    two-pass form — spans whose first-pass fused confidence is below
    ``retry_threshold`` (0.3, the reference gate) are re-fused over
    this alternative recognition pass, and the better result wins.

    Never-fail contract: invalid input docs are NOT dropped — they emit
    (doc_id, [], status{ok=false, reason}) rows (doc_status_expr).  The
    error rows ride the same single-pass plan (conditional assembly)
    rather than a filter-split-union, which would scan the source twice;
    their join keys are null/rare so they add no shuffle skew of note.
    """
    docs = _with_fused_map(
        docs.withColumn("status", doc_status_expr()),
        candidates,
        retry_candidates,
        retry_threshold,
    )
    return docs.select(
        "doc_id",
        *(passthrough or []),
        F.when(
            F.col("status.ok"),
            assemble_expr(F.col("spans"), F.col("fused_map")),
        )
        .otherwise(F.array().cast(SPAN_ARRAY_TYPE))
        .alias("spans"),
        "status",
    )


def extract_chunked(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    max_spans_per_chunk: int = 65536,
) -> DataFrame:
    """extract() with intra-document parallelism for mega-docs.

    Salting (plans/partitioning.py) balances *which task* a giant row
    lands on, but one 10^8-span document is still one task's work.
    The default chunk width (65536) is evidence-based: the measured
    crossover sits at ~10^5 spans/doc (PLANS.md "mega-doc crossover
    bench" — chunked wins 1.7x at 1M spans, 2.8x at 4M), so a width
    just under the crossover keeps each chunk's assembly below a
    task quantum while minimizing chunk-row fan-out.
    This path splits span arrays into offset-contiguous chunks (one row
    each), runs the same assembly expression per chunk, and reassembles
    per doc with the dense ``order`` recomputed across chunk boundaries
    (SURVEY.md section 7.5 item 3).  Output is exactly extract()'s —
    verified by tests/test_plans.py on the fixture corpus.

    Cost: two extra shuffles — the chunk REDISTRIBUTION before assembly
    and the reassembly groupBy after.  The redistribution is the whole
    point: chunk_documents' explode is narrow and the fused-map join
    hashes doc_id alone, so without an explicit repartition by
    (doc_id, chunk_id) every chunk of a mega-doc stays in ONE task and
    assembly never parallelizes intra-document (measured: 4x1M-span
    docs, chunked-without-redistribution 7.5 s vs plain 3.8 s — the
    chunker could never win at ANY size).  Use only when the corpus
    has documents above the chunk threshold; the driver decides
    (job.py --chunk-mega-docs).  Crossover measured in PLANS.md
    ("mega-doc crossover bench").
    """
    from ocr_project_spark import errors
    from ocr_project_spark.plans.partitioning import (
        chunk_documents,
        reassemble_chunks,
    )

    # Never-fail contract in ONE scan of the input: invalid docs chunk
    # as a single empty chunk (spans forced empty) with their computed
    # status carried alongside every chunk, so the corpus is read once
    # — a filter-split (ok branch / bad branch) forks the lineage into
    # TWO full scans of the heavy spans column, which at 10^12 docs
    # doubles the dominant I/O and on the 1x4M-span crossover fixture
    # cost ~1 s of an 8 s run.  Only null-doc_id rows still bypass:
    # they cannot ride the doc_id groupBy (reassembly would collapse
    # distinct null-keyed documents into one row) — and their bypass
    # scan prunes down to the doc_id column alone, so it is free.
    with_id = docs.where(F.col("doc_id").isNotNull())
    null_id = docs.where(F.col("doc_id").isNull()).select(
        "doc_id",
        F.array().cast(SPAN_ARRAY_TYPE).alias("spans"),
        _status(False, errors.REASON_NULL_DOC_ID).alias("status"),
    )
    tagged = with_id.withColumn("_st", doc_status_expr()).select(
        "doc_id",
        F.when(F.col("_st.ok"), F.col("spans"))
        .otherwise(F.array().cast(INPUT_SPAN_ARRAY_TYPE))
        .alias("spans"),
        F.col("_st").alias("status"),
    )

    chunks = chunk_documents(tagged, max_spans_per_chunk, carry_cols=("status",))
    chunks = _with_fused_map(chunks, candidates)
    # Spread one document's chunks across tasks: the fused-map join
    # (when present) co-partitions on hash(doc_id), which pins ALL of a
    # mega-doc's chunks to one shuffle partition; without candidates
    # the explode is narrow and they never leave the reader's task.
    # Hash on (doc_id, chunk_id) so assembly — the per-span scoring
    # work this operator exists to parallelize — runs wide.
    chunks = chunks.repartition(F.col("doc_id"), F.col("chunk_id"))
    per_chunk = chunks.select(
        "doc_id",
        "chunk_id",
        assemble_expr(F.col("spans"), F.col("fused_map")).alias("spans"),
        "status",
    )
    reassembled = reassemble_chunks(per_chunk, carry_cols=("status",))
    return reassembled.select("doc_id", "spans", "status").unionByName(null_id)
