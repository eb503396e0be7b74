"""The extraction pipeline's zero-copy Arrow engine path (mapInArrow).

Where operators/extract_pandas.py pays the Arrow->pandas conversion of
nested span structs (every span becomes a Python dict before the kernel
runs), this path consumes the raw ``pyarrow.RecordBatch``: span arrays
stay as Arrow ListArray/StructArray buffers end-to-end, field gathers
and the stable sort run in C (pyarrow.compute + numpy on primitive
buffers), and the output list array is rebuilt from offsets — no
per-span Python objects at any point.

Semantics are identical to operators/extract.py (HOF plan) and
operators/extract_pandas.py, including the never-fail status contract;
tests pin three-way equality.  This is the shape to use when a Python
kernel is genuinely needed but the per-element dict tax of pandas
nested data is not affordable — the 10^12-doc "batched Arrow tokenizer"
stage of the north star.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ocr_project_spark import rules
from ocr_project_spark.operators.extract import _with_fused_map

_OUT_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,order:int>>, "
    "status struct<ok:boolean,reason:string>"
)


def density_content_mask(text: pa.Array) -> np.ndarray:
    """Arrow-native Boilerpipe density rule — exact rules.is_content
    semantics without materializing Python strings.

    * token count: ``\\S+`` match count == len(str.split())
    * link-token count: every whitespace char is doubled and the text
      space-padded, so each token is flanked by its own spaces and the
      plain-substring count of " <a> " equals the number of tokens
      exactly equal to the link marker (no regex lookaround needed —
      RE2 has none).
    """
    n = pc.fill_null(pc.count_substring_regex(text, r"\S+"), 0).to_numpy(
        zero_copy_only=False
    )
    padded = pc.binary_join_element_wise(
        pa.scalar(" "),
        pc.replace_substring_regex(pc.fill_null(text, ""), r"\s", "  "),
        pa.scalar(" "),
        "",
    )
    links = pc.count_substring(padded, f" {rules.LINK_TOKEN} ").to_numpy(
        zero_copy_only=False
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        density = np.where(n > 0, links / np.maximum(n, 1), 0.0)
    return (n >= rules.CONTENT_MIN_TOKENS) & (density < rules.MAX_LINK_DENSITY)


def _np(arr: pa.Array, fill=0) -> np.ndarray:
    return pc.fill_null(arr, fill).to_numpy(zero_copy_only=False)


def _assemble_record_batch(rb: pa.RecordBatch, content_mask) -> pa.RecordBatch:
    n_docs = rb.num_rows
    doc_id = rb.column(rb.schema.get_field_index("doc_id"))
    spans = rb.column(rb.schema.get_field_index("spans"))
    has_map = rb.schema.get_field_index("fused_map") >= 0
    fused = rb.column(rb.schema.get_field_index("fused_map")) if has_map else None

    # --- per-doc never-fail validation (mirror of doc_status_expr) ---
    null_doc = pc.is_null(doc_id).to_numpy(zero_copy_only=False)
    null_spans = pc.is_null(spans).to_numpy(zero_copy_only=False)
    counts = _np(pc.list_value_length(spans)).astype(np.int64)
    counts[null_spans] = 0
    total = int(counts.sum())
    doc_pos = np.repeat(np.arange(n_docs), counts)

    sv = spans.flatten()  # StructArray; null list slots contribute 0 rows
    kind = sv.field("kind")
    text = sv.field("text")
    media_ref = sv.field("media_ref")
    offset = sv.field("offset")

    bad_row = (
        pc.is_null(kind).to_numpy(zero_copy_only=False)
        | pc.is_null(offset).to_numpy(zero_copy_only=False)
    )
    malformed = np.zeros(n_docs, dtype=bool)
    if bad_row.any():
        malformed = np.bincount(doc_pos[bad_row], minlength=n_docs) > 0
    ok = ~(null_doc | null_spans | malformed)

    # --- flat-array assembly over ok docs only ---
    if total:
        offset_np = _np(offset).astype(np.int64)
        doc_starts = np.cumsum(counts) - counts
        idx = np.arange(total) - np.repeat(doc_starts, counts)

        is_media = _np(pc.equal(kind, "media"), False).astype(bool)
        keep = (is_media | content_mask(text)) & ok[doc_pos]

        order_sort = np.lexsort((idx, offset_np, doc_pos))
        kept = order_sort[keep[order_sort]]  # sorted by (doc, offset, idx)
        kd = doc_pos[kept]
        kept_counts = np.bincount(kd, minlength=n_docs)
        kept_starts = np.cumsum(kept_counts) - kept_counts
        dense_order = np.arange(len(kept)) - kept_starts[kd]

        kind_out = kind.take(pa.array(kept))
        text_out = text.take(pa.array(kept))
        media_out = media_ref.take(pa.array(kept))

        # --- media resolution: vectorized (doc, offset) -> fused-map
        # equi-lookup via one sorted composite-key searchsorted ---
        if fused is not None and len(fused.keys) - fused.offset >= 0:
            moff = fused.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            m_counts = np.diff(moff)
            m_null = pc.is_null(fused).to_numpy(zero_copy_only=False)
            m_counts = np.where(m_null, 0, m_counts)
            base, end = int(moff[0]), int(moff[-1])
            if end > base:
                m_keys = _np(fused.keys.slice(base, end - base)).astype(np.int64)
                m_t = fused.items.field("t").slice(base, end - base)
                # doc index per map entry (null slots have empty ranges)
                entry_doc = np.repeat(np.arange(n_docs), np.diff(moff))
                valid_entry = ~m_null[entry_doc]
                BIG = np.int64(1) << 32
                m_comp = entry_doc.astype(np.int64) * BIG + m_keys
                m_comp, m_t_idx = m_comp[valid_entry], np.flatnonzero(valid_entry)
                m_order = np.argsort(m_comp, kind="stable")
                m_comp_sorted = m_comp[m_order]

                media_kept = np.flatnonzero(is_media[kept])
                if media_kept.size:
                    q_comp = (
                        kd[media_kept].astype(np.int64) * BIG
                        + offset_np[kept[media_kept]]
                    )
                    pos = np.searchsorted(m_comp_sorted, q_comp)
                    pos_ok = pos < len(m_comp_sorted)
                    hit = np.zeros(len(q_comp), dtype=bool)
                    hit[pos_ok] = m_comp_sorted[pos[pos_ok]] == q_comp[pos_ok]
                    if hit.any():
                        src = m_t_idx[m_order[pos[hit]]]
                        repl = m_t.take(pa.array(src))
                        mask = np.zeros(len(kept), dtype=bool)
                        mask[media_kept[hit]] = True
                        text_out = pc.replace_with_mask(
                            text_out, pa.array(mask), repl
                        )

        out_offsets = np.empty(n_docs + 1, dtype=np.int32)
        out_offsets[0] = 0
        np.cumsum(kept_counts, out=out_offsets[1:])
        out_struct = pa.StructArray.from_arrays(
            [
                kind_out,
                text_out,
                media_out,
                pa.array(dense_order.astype(np.int32), type=pa.int32()),
            ],
            names=["kind", "text", "media_ref", "order"],
        )
        spans_out = pa.ListArray.from_arrays(
            pa.array(out_offsets, type=pa.int32()), out_struct
        )
    else:
        spans_out = pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1, dtype=np.int32), type=pa.int32()),
            pa.array(
                [],
                type=pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("order", pa.int32()),
                    ]
                ),
            ),
        )

    reason = np.full(n_docs, None, dtype=object)
    reason[malformed] = "malformed_span"
    reason[null_spans] = "null_spans"
    reason[null_doc] = "null_doc_id"  # highest precedence last
    status = pa.StructArray.from_arrays(
        [pa.array(ok), pa.array(reason, type=pa.string())],
        names=["ok", "reason"],
    )
    return pa.RecordBatch.from_arrays(
        [doc_id, spans_out, status], names=["doc_id", "spans", "status"]
    )


def extract_arrow_engine(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    content_mask=density_content_mask,
) -> DataFrame:
    """(doc_id, spans) [+ candidates] -> (doc_id, spans out, status) via
    a mapInArrow kernel.  ``content_mask`` is a
    ``pyarrow.Array[string] -> np.ndarray[bool]`` batch classifier."""
    prepped = _with_fused_map(docs, candidates)

    mask_ref = content_mask

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield _assemble_record_batch(rb, mask_ref)

    return prepped.mapInArrow(run, schema=_OUT_SCHEMA)
