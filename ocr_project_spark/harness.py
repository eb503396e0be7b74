"""Driver-contract query catalog: Spark implementation + DuckDB oracle
for every SQL-expressible operator from SURVEY.md section 2.

Each ``QUERIES`` record pairs a ``(spark, sf_dir) -> DataFrame`` builder
with its oracle: ANSI/DuckDB SQL over the driver's pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings).  Column names and types are
aligned pairwise; float outputs are rounded to 4 decimals on both
sides so IEEE accumulation-order differences cannot flip the driver's
value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_project_spark.functions import text as TX
from ocr_project_spark.functions.classify import jaccard_expr
from ocr_project_spark.functions.fuse import fuse_media_candidates
from ocr_project_spark.operators import dedup as DD
from ocr_project_spark.operators import similarity as SIM
from ocr_project_spark.operators.sessionize import (
    NORMAL_GAP_S as _NORMAL_GAP_S,
    TIGHT_GAP_S as _TIGHT_GAP_S,
    sessionize_by_time,
)


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PYFILES_ADDED: set[int] = set()


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the package zip to executors (addPyFile) so queries whose
    kernels run in Python workers (applyInPandas / mapInPandas) import
    ocr_project_spark regardless of the driver's cwd/PYTHONPATH — the
    in-session equivalent of spark-submit --py-files."""
    key = id(spark.sparkContext)
    if key in _PYFILES_ADDED:
        return
    import hashlib
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources: list[tuple[str, str]] = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "ocr_project_spark", os.path.relpath(full, pkg_dir)
                )
                sources.append((full, rel))
    # Name the zip by a content hash of the package sources so source
    # edits invalidate the shipped artifact (a path-stable cached zip
    # would feed executors stale code after any edit).
    h = hashlib.sha256()
    for full, rel in sorted(sources, key=lambda p: p[1]):
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    out = os.path.join(
        "/tmp", f"ocr_project_spark_pyfiles_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(out):
        tmp = out + f".{os.getpid()}.part"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for full, rel in sources:
                z.write(full, rel)
        os.replace(tmp, out)
    spark.sparkContext.addPyFile(out)
    _PYFILES_ADDED.add(key)


# --------------------------------------------------------------------
# DuckDB SQL fragments reused across oracles
# --------------------------------------------------------------------
_WS_TOKS = (
    "list_filter(regexp_split_to_array(coalesce({c},'') , '\\s+'), x -> x <> '')"
)
_WORD_TOKS = (
    "list_filter(regexp_split_to_array(lower(coalesce({c},'')), '[^a-z0-9]+'),"
    " x -> x <> '')"
)


# --------------------------------------------------------------------
# 1. Flagship: boilerplate-strip extraction over derived spans
#    (K9/K13 analog on the driver's flat documents table)
# --------------------------------------------------------------------
def q_extract_clean_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    # tokens materialized in a projection so chunking does not
    # re-tokenize per chunk (see functions/text.chunk_tokens)
    chunks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.posexplode(TX.chunk_tokens(F.col("_toks"), 10)).alias(
            "idx", "span_text"
        ),
    )
    n = TX.tokens(F.col("span_text"))
    content = (F.size(n) >= 8) & (
        F.size(F.filter(n, lambda t: t == F.lit("a"))) / F.size(n) < 0.4
    )
    kept = chunks.where(content)
    w = Window.partitionBy("doc_id").orderBy("idx")
    return kept.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("int").alias("span_order"),
        "span_text",
    )


_SQL_EXTRACT = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), c AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(0, greatest(cast(ceil(len(toks)/10.0) AS int),1)-1),
             i -> {{'idx': i,
                   'txt': array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')}})) AS ch
  FROM t
), s AS (
  SELECT doc_id, ch.idx AS idx, ch.txt AS span_text,
         {ctoks} AS ctoks
  FROM c
), k AS (
  SELECT doc_id, idx, span_text FROM s
  WHERE len(ctoks) >= 8
    AND len(list_filter(ctoks, x -> x = 'a')) * 1.0 / len(ctoks) < 0.4
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS int) AS span_order,
       span_text
FROM k
""".format(toks=_WS_TOKS.format(c="text"), ctoks=_WS_TOKS.format(c="ch.txt"))


# --------------------------------------------------------------------
# 1b. The REAL chunked extraction pipeline (extract_chunked: intra-doc
#     parallel chunking + reassembly) over spans derived from the
#     documents table — oracle-checked end-to-end.  Small chunk cap
#     forces multi-chunk docs so the reassembly path actually runs.
# --------------------------------------------------------------------
def q_extract_chunked_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.extract import extract_chunked

    docs = _derived_span_docs(spark, sf_dir)
    return _spans_out_flat(extract_chunked(docs, None, max_spans_per_chunk=4))


_SQL_EXTRACT_CHUNKED = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), c AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(0, greatest(cast(ceil(len(toks)/10.0) AS int),1)-1),
             i -> {{'idx': i,
                   'txt': array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')}})) AS ch
  FROM t
), s AS (
  SELECT doc_id, ch.idx AS idx, ch.txt AS span_text,
         {ctoks} AS ctoks
  FROM c
), k AS (
  SELECT doc_id, idx, span_text FROM s
  WHERE len(ctoks) >= 8
    AND len(list_filter(ctoks, x -> x = '<a>')) * 1.0 / len(ctoks) < 0.4
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS int) AS span_order,
       span_text
FROM k
""".format(toks=_WS_TOKS.format(c="text"), ctoks=_WS_TOKS.format(c="ch.txt"))


def _span_docs_from(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> spans-shaped docs (10-token chunks).
    Tokens are materialized in a projection first so chunking does not
    re-tokenize per chunk (functions/text.chunk_tokens; measured 1.8x)."""
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        TX.tokens(F.col("text")).alias("_toks"),
    )
    return base.select(
        "doc_id",
        F.transform(
            TX.chunk_tokens(F.col("_toks"), 10),
            lambda c, i: F.struct(
                F.lit("text").alias("kind"),
                c.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )


def _derived_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-shaped docs over the full documents table — the input the
    engine-path queries share with extract_chunked_spans."""
    return _span_docs_from(T(spark, sf_dir, "documents"))


def _spans_out_flat(out: DataFrame) -> DataFrame:
    """Flatten (doc_id, spans[]) to one row per span for the oracle
    compare.  explode_outer + post-filter, NOT plain explode: from a
    plain explode the optimizer infers `size(spans) > 0` and pushes it
    below the projection, duplicating the entire HOF assembly
    expression into a scan-level Filter that evaluates interpreted,
    per input row — measured 5.6x slower on the extract pipeline
    (4.12s -> 0.73s at sf0.1).  explode_outer admits empty arrays (a
    null element row), so nothing is inferred; the cheap isNotNull on
    the GENERATED column restores exact explode semantics."""
    return (
        out.select("doc_id", F.explode_outer("spans").alias("s"))
        .where(F.col("s").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("s.order").alias("span_order"),
            F.col("s.text").alias("span_text"),
        )
    )


# 1c. The custom-classifier path, oracle-checked end-to-end against
# DuckDB (same semantics as extract(), so it shares the
# chunked-extraction oracle): the density rule passed as a callable
# takes the pandas_udf classifier crossing rather than the HOF plan.
def q_extract_pandas_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.engine_udfs import density_classifier
    from ocr_project_spark.operators.extract_pandas import extract_pandas_engine

    _ensure_pyfiles(spark)
    return _spans_out_flat(
        extract_pandas_engine(
            _derived_span_docs(spark, sf_dir),
            None,
            classifier=density_classifier,
        )
    )


# --------------------------------------------------------------------
# 2. Fusion (J1/J2/A6/W1/O5/U1): derive 3 candidate "recognitions" per
#    document deterministically, fuse with the reference semantics.
# --------------------------------------------------------------------
def _derived_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    head = F.array_join(F.slice(toks, 1, 10), " ")
    tail = F.array_join(F.slice(toks, 11, 10), " ")
    base = docs.select("doc_id", head.alias("head"), tail.alias("tail"))
    a = base.select(
        "doc_id",
        F.lit(0).cast("int").alias("offset"),
        F.lit("rec_a").alias("engine"),
        F.col("head").alias("text"),
        (((F.col("doc_id") * 37 + 11) % 80 + 15) / 100.0).alias("confidence"),
    )
    b = base.select(
        "doc_id",
        F.lit(0).cast("int").alias("offset"),
        F.lit("rec_b").alias("engine"),
        F.col("head").alias("text"),
        (((F.col("doc_id") * 53 + 7) % 80 + 15) / 100.0).alias("confidence"),
    )
    c = base.select(
        "doc_id",
        F.lit(0).cast("int").alias("offset"),
        F.lit("rec_c").alias("engine"),
        F.col("tail").alias("text"),
        (((F.col("doc_id") * 29 + 3) % 80 + 15) / 100.0).alias("confidence"),
    )
    return a.unionByName(b).unionByName(c)


def q_fuse_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = fuse_media_candidates(_derived_candidates(spark, sf_dir))
    return fused.select(
        "doc_id",
        "text",
        F.round("confidence", 4).alias("confidence"),
        "method",
        "n_consensus",
    )


_SQL_FUSE = """
WITH base AS (
  SELECT doc_id,
         array_to_string(list_slice({toks}, 1, 10), ' ')  AS head,
         array_to_string(list_slice({toks}, 11, 20), ' ') AS tail
  FROM documents
), cands AS (
  SELECT doc_id, 'rec_a' AS engine, head AS text,
         ((doc_id*37+11) % 80 + 15) / 100.0 AS confidence FROM base
  UNION ALL
  SELECT doc_id, 'rec_b', head, ((doc_id*53+7) % 80 + 15) / 100.0 FROM base
  UNION ALL
  SELECT doc_id, 'rec_c', tail, ((doc_id*29+3) % 80 + 15) / 100.0 FROM base
), keyed AS (
  SELECT *,
    (trim(coalesce(text,'')) <> '' AND confidence > 0.1) AS is_valid,
    CASE engine WHEN 'rec_a' THEN 0 WHEN 'rec_b' THEN 1
                WHEN 'rec_c' THEN 2 WHEN 'rec_d' THEN 3 ELSE 99 END AS prio
  FROM cands
), ranked AS (
  SELECT *,
    row_number()            OVER w AS rn,
    first_value(text)       OVER w AS best_text,
    first_value(confidence) OVER w AS best_conf,
    sum(CASE WHEN is_valid THEN 1 ELSE 0 END) OVER w2 AS n_valid
  FROM keyed
  WINDOW w AS (PARTITION BY doc_id
               ORDER BY (CASE WHEN is_valid THEN 0 ELSE 1 END),
                        confidence DESC, prio, engine, coalesce(text,'')
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         w2 AS (PARTITION BY doc_id)
), jac AS (
  SELECT *,
    CASE WHEN coalesce(best_text,'') = '' OR coalesce(text,'') = '' THEN 0.0
         WHEN len(list_distinct({btoks})) = 0 OR len(list_distinct({ttoks})) = 0
           THEN CASE WHEN trim(best_text) = trim(text) THEN 1.0 ELSE 0.0 END
         ELSE len(list_intersect(list_distinct({btoks}), list_distinct({ttoks}))) * 1.0
              / len(list_distinct(list_concat(list_distinct({btoks}), list_distinct({ttoks}))))
    END AS sim
  FROM ranked
), flagged AS (
  SELECT *,
    (rn > 1 AND is_valid AND confidence > 0.7 AND sim > 0.8) AS agrees
  FROM jac
), grouped AS (
  SELECT doc_id,
    max(CASE WHEN rn = 1 THEN best_text END)  AS best_text,
    max(CASE WHEN rn = 1 THEN best_conf END)  AS best_conf,
    max(n_valid)                              AS n_valid,
    sum(CASE WHEN agrees THEN 1 ELSE 0 END)   AS n_agree,
    sum(CASE WHEN agrees THEN confidence ELSE 0.0 END) AS agree_conf_sum
  FROM flagged GROUP BY doc_id
)
SELECT doc_id,
  best_text AS text,
  round(CASE WHEN n_valid >= 2 AND n_agree > 0
        THEN least(1.0, (best_conf + agree_conf_sum) / (1 + n_agree)
                        + least(0.05, 0.01 * (1 + n_agree)))
        ELSE best_conf END, 4) AS confidence,
  CASE WHEN n_valid = 0 THEN 'fallback_best_of_failed'
       WHEN n_valid = 1 THEN 'single_valid'
       WHEN n_agree > 0 THEN 'consensus_' || (1 + n_agree) || '_engines'
       ELSE 'best_single' END AS method,
  CAST(CASE WHEN n_valid = 0 THEN 0 ELSE 1 + n_agree END AS int) AS n_consensus
FROM grouped
""".format(
    toks=_WS_TOKS.format(c="text"),
    btoks=_WORD_TOKS.format(c="best_text"),
    ttoks=_WORD_TOKS.format(c="text"),
)


# --------------------------------------------------------------------
# 2b. Confidence early-termination routing (reference types.py:181-182
#     is_high_confidence + advanced_usage.py:200-220 engine-cascade
#     stop): spans whose best valid candidate clears the threshold
#     bypass the consensus window+Jaccard via filter-split -> union.
#     The query reports per-route counts — the evidence the split
#     actually routes — against a full DuckDB re-derivation.
# --------------------------------------------------------------------
def _materialized_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived candidates written once to parquet and read back —
    the materialized-table regime in which the filter-split routed
    fusion is the right plan (its branches then re-read a cheap
    column-pruned table instead of recomputing the derivation)."""
    import hashlib
    import os

    # v1: bump when _derived_candidates' definition changes, so a
    # stale /tmp materialization can never mask a code change
    key = hashlib.sha256(f"v1|{sf_dir}".encode()).hexdigest()[:12]
    path = f"/tmp/ocr_harness_cands_{key}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        _derived_candidates(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def q_fusion_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.fuse import fuse_media_candidates_routed

    fused = fuse_media_candidates_routed(
        _materialized_candidates(spark, sf_dir), early_termination=0.7
    )
    return fused.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.round(F.avg("confidence"), 3).alias("avg_conf"),
    )


_SQL_FUSION_ROUTING = """
WITH base AS (
  SELECT doc_id,
         array_to_string(list_slice({toks}, 1, 10), ' ')  AS head,
         array_to_string(list_slice({toks}, 11, 20), ' ') AS tail
  FROM documents
), cands AS (
  SELECT doc_id, 'rec_a' AS engine, head AS text,
         ((doc_id*37+11) % 80 + 15) / 100.0 AS confidence FROM base
  UNION ALL
  SELECT doc_id, 'rec_b', head, ((doc_id*53+7) % 80 + 15) / 100.0 FROM base
  UNION ALL
  SELECT doc_id, 'rec_c', tail, ((doc_id*29+3) % 80 + 15) / 100.0 FROM base
), keyed AS (
  SELECT *,
    (trim(coalesce(text,'')) <> '' AND confidence > 0.1) AS is_valid,
    CASE engine WHEN 'rec_a' THEN 0 WHEN 'rec_b' THEN 1
                WHEN 'rec_c' THEN 2 WHEN 'rec_d' THEN 3 ELSE 99 END AS prio
  FROM cands
), ranked AS (
  SELECT *,
    row_number()            OVER w AS rn,
    first_value(text)       OVER w AS best_text,
    first_value(confidence) OVER w AS best_conf,
    sum(CASE WHEN is_valid THEN 1 ELSE 0 END) OVER w2 AS n_valid,
    max(CASE WHEN is_valid THEN confidence END) OVER w2 AS mvc
  FROM keyed
  WINDOW w AS (PARTITION BY doc_id
               ORDER BY (CASE WHEN is_valid THEN 0 ELSE 1 END),
                        confidence DESC, prio, engine, coalesce(text,'')
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         w2 AS (PARTITION BY doc_id)
), jac AS (
  SELECT *,
    CASE WHEN coalesce(mvc, 0) >= 0.7 THEN 0.0
         WHEN coalesce(best_text,'') = '' OR coalesce(text,'') = '' THEN 0.0
         WHEN len(list_distinct({btoks})) = 0 OR len(list_distinct({ttoks})) = 0
           THEN CASE WHEN trim(best_text) = trim(text) THEN 1.0 ELSE 0.0 END
         ELSE len(list_intersect(list_distinct({btoks}), list_distinct({ttoks}))) * 1.0
              / len(list_distinct(list_concat(list_distinct({btoks}), list_distinct({ttoks}))))
    END AS sim
  FROM ranked
), flagged AS (
  SELECT *,
    (coalesce(mvc, 0) < 0.7
     AND rn > 1 AND is_valid AND confidence > 0.7 AND sim > 0.8) AS agrees
  FROM jac
), grouped AS (
  SELECT doc_id,
    max(CASE WHEN rn = 1 THEN best_text END)  AS best_text,
    max(CASE WHEN rn = 1 THEN best_conf END)  AS best_conf,
    max(n_valid)                              AS n_valid,
    max(mvc)                                  AS mvc,
    sum(CASE WHEN agrees THEN 1 ELSE 0 END)   AS n_agree,
    sum(CASE WHEN agrees THEN confidence ELSE 0.0 END) AS agree_conf_sum
  FROM flagged GROUP BY doc_id
), final AS (
  SELECT doc_id,
    CASE WHEN coalesce(mvc, 0) >= 0.7 THEN best_conf
         WHEN n_valid >= 2 AND n_agree > 0
           THEN least(1.0, (best_conf + agree_conf_sum) / (1 + n_agree)
                           + least(0.05, 0.01 * (1 + n_agree)))
         ELSE best_conf END AS confidence,
    CASE WHEN coalesce(mvc, 0) >= 0.7 THEN 'early_termination'
         WHEN n_valid = 0 THEN 'fallback_best_of_failed'
         WHEN n_valid = 1 THEN 'single_valid'
         WHEN n_agree > 0 THEN 'consensus_' || (1 + n_agree) || '_engines'
         ELSE 'best_single' END AS method
  FROM grouped
)
SELECT method, count(*) AS n_spans, round(avg(confidence), 3) AS avg_conf
FROM final GROUP BY method
""".format(
    toks=_WS_TOKS.format(c="text"),
    btoks=_WORD_TOKS.format(c="best_text"),
    ttoks=_WORD_TOKS.format(c="text"),
)


# --------------------------------------------------------------------
# 2c. Confidence-gated RETRY routing — the reference's PSM fallback
#     (tesseract.py:111-143: re-run with an alternative PSM when the
#     first pass averaged < 0.3 confidence, keep the better result) as
#     a two-pass fusion where the second pass runs only over the
#     low-confidence residue (fuse.fuse_with_retry).
# --------------------------------------------------------------------
def _derived_retry_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alternative-configuration recognition pass: one 'rec_r'
    candidate per document (deterministic confidence hash disjoint from
    the primary engines' hashes)."""
    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    head = F.array_join(F.slice(toks, 1, 10), " ")
    return docs.select(
        "doc_id",
        F.lit(0).cast("int").alias("offset"),
        F.lit("rec_r").alias("engine"),
        head.alias("text"),
        (((F.col("doc_id") * 41 + 19) % 80 + 15) / 100.0).alias("confidence"),
    )


def q_retry_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.fuse import fuse_with_retry

    # Materialized candidates for the primary pass: fuse_with_retry's
    # split consumes the candidate source from two branches (pass-1
    # fusion + the residue semi-join), and the static planner cannot
    # dedupe a live derivation across them — same lesson as
    # q_fusion_routing (measured there, round 2).
    fused = fuse_with_retry(
        _materialized_candidates(spark, sf_dir),
        _derived_retry_candidates(spark, sf_dir),
        threshold=0.3,
    )
    return fused.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.round(F.avg("confidence"), 3).alias("avg_conf"),
    )


# Pass 1 below is the full fusion chain (identical to _SQL_FUSE); pass
# 2 fuses a SINGLE retry candidate, which degenerates to the candidate
# itself (valid -> 'single_valid', else 'fallback_best_of_failed') —
# the retry wins iff strictly more confident.
_SQL_RETRY = """
WITH base AS (
  SELECT doc_id,
         array_to_string(list_slice({toks}, 1, 10), ' ')  AS head,
         array_to_string(list_slice({toks}, 11, 20), ' ') AS tail
  FROM documents
), cands AS (
  SELECT doc_id, 'rec_a' AS engine, head AS text,
         ((doc_id*37+11) % 80 + 15) / 100.0 AS confidence FROM base
  UNION ALL
  SELECT doc_id, 'rec_b', head, ((doc_id*53+7) % 80 + 15) / 100.0 FROM base
  UNION ALL
  SELECT doc_id, 'rec_c', tail, ((doc_id*29+3) % 80 + 15) / 100.0 FROM base
), keyed AS (
  SELECT *,
    (trim(coalesce(text,'')) <> '' AND confidence > 0.1) AS is_valid,
    CASE engine WHEN 'rec_a' THEN 0 WHEN 'rec_b' THEN 1
                WHEN 'rec_c' THEN 2 WHEN 'rec_d' THEN 3 ELSE 99 END AS prio
  FROM cands
), ranked AS (
  SELECT *,
    row_number()            OVER w AS rn,
    first_value(text)       OVER w AS best_text,
    first_value(confidence) OVER w AS best_conf,
    sum(CASE WHEN is_valid THEN 1 ELSE 0 END) OVER w2 AS n_valid
  FROM keyed
  WINDOW w AS (PARTITION BY doc_id
               ORDER BY (CASE WHEN is_valid THEN 0 ELSE 1 END),
                        confidence DESC, prio, engine, coalesce(text,'')
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         w2 AS (PARTITION BY doc_id)
), jac AS (
  SELECT *,
    CASE WHEN coalesce(best_text,'') = '' OR coalesce(text,'') = '' THEN 0.0
         WHEN len(list_distinct({btoks})) = 0 OR len(list_distinct({ttoks})) = 0
           THEN CASE WHEN trim(best_text) = trim(text) THEN 1.0 ELSE 0.0 END
         ELSE len(list_intersect(list_distinct({btoks}), list_distinct({ttoks}))) * 1.0
              / len(list_distinct(list_concat(list_distinct({btoks}), list_distinct({ttoks}))))
    END AS sim
  FROM ranked
), flagged AS (
  SELECT *,
    (rn > 1 AND is_valid AND confidence > 0.7 AND sim > 0.8) AS agrees
  FROM jac
), grouped AS (
  SELECT doc_id,
    max(CASE WHEN rn = 1 THEN best_text END)  AS best_text,
    max(CASE WHEN rn = 1 THEN best_conf END)  AS best_conf,
    max(n_valid)                              AS n_valid,
    sum(CASE WHEN agrees THEN 1 ELSE 0 END)   AS n_agree,
    sum(CASE WHEN agrees THEN confidence ELSE 0.0 END) AS agree_conf_sum
  FROM flagged GROUP BY doc_id
), p1 AS (
  SELECT doc_id,
    CASE WHEN n_valid >= 2 AND n_agree > 0
         THEN least(1.0, (best_conf + agree_conf_sum) / (1 + n_agree)
                         + least(0.05, 0.01 * (1 + n_agree)))
         ELSE best_conf END AS confidence,
    CASE WHEN n_valid = 0 THEN 'fallback_best_of_failed'
         WHEN n_valid = 1 THEN 'single_valid'
         WHEN n_agree > 0 THEN 'consensus_' || (1 + n_agree) || '_engines'
         ELSE 'best_single' END AS method
  FROM grouped
), retry AS (
  SELECT p.doc_id,
         b.head AS r_text,
         ((p.doc_id*41+19) % 80 + 15) / 100.0 AS r_conf
  FROM p1 p JOIN base b ON p.doc_id = b.doc_id
  WHERE p.confidence < 0.3 OR p.method = 'fallback_best_of_failed'
), final AS (
  SELECT p.doc_id,
    CASE WHEN r.doc_id IS NOT NULL
              AND (r.r_conf > p.confidence
                   OR (p.method = 'fallback_best_of_failed'
                       AND trim(coalesce(r.r_text,'')) <> ''
                       AND r.r_conf > 0.1))
         THEN r.r_conf ELSE p.confidence END AS confidence,
    CASE WHEN r.doc_id IS NOT NULL
              AND (r.r_conf > p.confidence
                   OR (p.method = 'fallback_best_of_failed'
                       AND trim(coalesce(r.r_text,'')) <> ''
                       AND r.r_conf > 0.1))
         THEN 'retry_' || (CASE WHEN trim(coalesce(r.r_text,'')) <> ''
                                     AND r.r_conf > 0.1
                                THEN 'single_valid'
                                ELSE 'fallback_best_of_failed' END)
         ELSE p.method END AS method
  FROM p1 p LEFT JOIN retry r ON p.doc_id = r.doc_id
)
SELECT method, count(*) AS n_spans, round(avg(confidence), 3) AS avg_conf
FROM final GROUP BY method
""".format(
    toks=_WS_TOKS.format(c="text"),
    btoks=_WORD_TOKS.format(c="best_text"),
    ttoks=_WORD_TOKS.format(c="text"),
)


# --------------------------------------------------------------------
# 2d. Per-engine language filtering (reference base_engine.py:43-82
#     get_supported_languages + engines.yaml language lists): fusion
#     drops candidates whose engine does not support the document's
#     language guess.
# --------------------------------------------------------------------
def q_engine_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.fuse import filter_candidates_by_language

    d = T(spark, sf_dir, "documents")
    doc_langs = d.select(
        "doc_id", TX.lang_guess(F.col("text")).alias("lang_guess")
    )
    cfg = {
        "engines": {
            "rec_a": {"languages": ["en"]},
            "rec_b": {"languages": ["en", "unk"]},
            "rec_c": {"languages": ["unk"]},
        }
    }
    kept = filter_candidates_by_language(
        _derived_candidates(spark, sf_dir), doc_langs, cfg
    )
    return kept.groupBy("engine").agg(F.count(F.lit(1)).alias("n_candidates"))


_SQL_ENGINE_LANG = """
WITH langs AS (
  SELECT doc_id,
    CASE WHEN len(t.toks) > 0 AND
      len(list_filter(t.toks, x -> list_contains(
        ['the','a','an','of','and','to','in','is','it','for'], x))) * 1.0
        / len(t.toks) >= 0.05
    THEN 'en' ELSE 'unk' END AS lang_guess
  FROM (SELECT doc_id, {wtoks} AS toks FROM documents) t
), cands AS (
  SELECT doc_id, 'rec_a' AS engine FROM documents
  UNION ALL SELECT doc_id, 'rec_b' FROM documents
  UNION ALL SELECT doc_id, 'rec_c' FROM documents
)
SELECT engine, count(*) AS n_candidates
FROM cands c JOIN langs l ON c.doc_id = l.doc_id
WHERE (engine = 'rec_a' AND l.lang_guess IN ('en'))
   OR (engine = 'rec_b' AND l.lang_guess IN ('en', 'unk'))
   OR (engine = 'rec_c' AND l.lang_guess IN ('unk'))
GROUP BY engine
""".format(wtoks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 3-5. Window family: sessionization (W3), reading order (W2), gaps (W4)
# --------------------------------------------------------------------
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    s = sessionize_by_time(ev, "user_id", "ts", 600.0)
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("int").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.count(F.lit(1)) / (F.max("session_id") + 1), 4).alias("avg_session_len"),
    )


_SQL_SESSION = """
WITH g AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS d
  FROM events
), s AS (
  SELECT user_id,
         sum(CASE WHEN d IS NULL OR d <= 600 THEN 0 ELSE 1 END)
           OVER (PARTITION BY user_id ORDER BY
                 (SELECT NULL) ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       CAST(max(sid) + 1 AS int) AS n_sessions,
       count(*) AS n_events,
       round(count(*) * 1.0 / (max(sid) + 1), 4) AS avg_session_len
FROM s GROUP BY user_id
"""


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 reading-order row_number + W4 prev-gap classification in one
    window pass (merged from the former separate gap_class query so
    both operators fit the driver's query-count cap; the standalone
    form remains locally oracle-checked as a non-driver record)."""
    ev = T(spark, sf_dir, "events")
    from ocr_project_spark.operators.sessionize import epoch_seconds, gap_class

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = epoch_seconds(F.col("ts"))
    gap = sec - F.lag(sec).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("int").alias("rn"),
        gap_class(gap).alias("gap_class"),
    )


# Shared W4 ladder fragment for the SQL oracles — thresholds are
# single-sourced from sessionize.py so the Spark ladder and both
# oracles cannot desynchronize.
_SQL_GAP_CASE = f"""CASE WHEN d IS NULL THEN 'first'
            WHEN d <= {_TIGHT_GAP_S}  THEN 'tight'
            WHEN d <= {_NORMAL_GAP_S} THEN 'normal'
            ELSE 'wide' END AS gap_class"""

_SQL_READING_ORDER = f"""
WITH g AS (
  SELECT event_id, user_id,
         row_number() OVER w AS rn,
         epoch(ts) - lag(epoch(ts)) OVER w AS d
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, CAST(rn AS int) AS rn,
       {_SQL_GAP_CASE}
FROM g
"""


def q_gap_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    from ocr_project_spark.operators.sessionize import epoch_seconds, gap_class

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = epoch_seconds(F.col("ts"))
    gap = sec - F.lag(sec).over(w)
    return ev.select("event_id", gap_class(gap).alias("gap_class"))


_SQL_GAP_CLASS = f"""
WITH g AS (
  SELECT event_id,
         epoch(ts) - lag(epoch(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
  FROM events
)
SELECT event_id,
       {_SQL_GAP_CASE}
FROM g
"""


# --------------------------------------------------------------------
# 6-10. Ranking + aggregation family (W1, A2-A6, O5)
# --------------------------------------------------------------------
def q_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("best_price"))
    )


_SQL_TOP1 = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS best_price
FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber) AS rn FROM lineitem)
WHERE rn = 1
"""


def q_weighted_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    w = F.col("l_quantity") * F.when(F.col("l_discount") > 0.05, 1.2).otherwise(1.0)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * w) / F.sum(w), 4).alias("weighted_avg_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_SQL_WEIGHTED = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_extendedprice * l_quantity * (CASE WHEN l_discount > 0.05 THEN 1.2 ELSE 1.0 END))
        / sum(l_quantity * (CASE WHEN l_discount > 0.05 THEN 1.2 ELSE 1.0 END)), 4)
    AS weighted_avg_price,
  count(*) AS n_lines
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    success = F.col("o_totalprice") > 100000
    return o.agg(
        F.sum(F.when(success, 1).otherwise(0)).alias("n_success"),
        F.sum(F.when(success, 0).otherwise(1)).alias("n_failed"),
        F.round(F.avg(F.when(success, F.col("o_totalprice"))), 2).alias("avg_success_price"),
        F.round(100.0 * F.sum(F.when(success, 1).otherwise(0)) / F.count(F.lit(1)), 4).alias(
            "success_rate"
        ),
    )


_SQL_BATCH_STATS = """
SELECT CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS bigint) AS n_success,
       CAST(sum(CASE WHEN o_totalprice > 100000 THEN 0 ELSE 1 END) AS bigint) AS n_failed,
       round(avg(CASE WHEN o_totalprice > 100000 THEN o_totalprice END), 2) AS avg_success_price,
       round(100.0 * sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) / count(*), 4)
         AS success_rate
FROM orders
"""


def q_consensus_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    base = F.avg(F.col("o_totalprice") / 1000000.0)
    fused = F.least(F.lit(1.0), base + F.least(F.lit(0.05), F.lit(0.01) * n))
    return o.groupBy("o_custkey").agg(
        F.round(fused, 4).alias("fused_conf"), n.alias("n_results")
    )


_SQL_CONSENSUS_BOOST = """
SELECT o_custkey,
       round(least(1.0, avg(o_totalprice / 1000000.0)
                        + least(0.05, 0.01 * count(*))), 4) AS fused_conf,
       count(*) AS n_results
FROM orders GROUP BY o_custkey
"""


def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_SQL_ENVELOPE = """
SELECT l_partkey,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_quantity), 2) AS max_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       count(*) AS n_lines
FROM lineitem GROUP BY l_partkey
"""


# --------------------------------------------------------------------
# 11-13. Joins & set ops (J1b, U1, U2)
# --------------------------------------------------------------------
def q_left_join_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(F.round(F.max("o_totalprice"), 2), F.lit(0.0)).alias("best_price"),
    )


_SQL_LEFT_JOIN = """
SELECT c_custkey,
       count(o_orderkey) AS n_orders,
       coalesce(round(max(o_totalprice), 2), 0.0) AS best_price
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    j = a.join(b, a.id_a + 1 == b.id_b)
    return j.select(
        "id_a", "id_b", F.round(jaccard_expr(F.col("ta"), F.col("tb")), 4).alias("jaccard")
    )


_SQL_JACCARD_ADJ = """
WITH d AS (SELECT doc_id, list_distinct({toks}) AS ws FROM documents WHERE doc_id < 300)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.ws, b.ws)) * 1.0
             / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id
""".format(toks="list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'), x -> x <> '')")


def q_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("high").alias("tag")
    )
    ur = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("tag")
    )
    return hi.unionByName(ur)


_SQL_UNION = """
SELECT o_orderkey, 'high' AS tag FROM orders WHERE o_totalprice > 300000
UNION ALL
SELECT o_orderkey, 'urgent' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
"""


# --------------------------------------------------------------------
# 15-17. Deduplication tiers
# --------------------------------------------------------------------
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(T(spark, sf_dir, "documents"))


_SQL_EXACT_DEDUP = """
SELECT md5(array_to_string({toks}, ' ')) AS text_hash,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 15b. Pipeline composition: exact-dedup keeper election feeding the
#      extraction pipeline — the canonical training-data flow (dedupe
#      first, extract once per surviving document), both stages
#      oracle-checked end-to-end as one query.
# --------------------------------------------------------------------
def q_dedup_then_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup composed with extraction — keeper filter BEFORE the
    span derivation.  Catalyst's PushDownLeftSemiAntiJoin does not
    push the semi-join below the chunk/struct projection here (the
    join key is an aliased cast), so the join is placed below it by
    hand: at a real web-corpus duplicate rate (30-50%) deriving spans
    for documents the keeper filter then drops is pure wasted CPU.
    The single-scan alternative (windowed keeper, no join-back) is
    the curate_corpus design (operators/curate.py)."""
    from ocr_project_spark.operators.extract import extract

    d = T(spark, sf_dir, "documents")
    keepers = DD.exact_dedup(d).select(F.col("keeper_id").alias("doc_id"))
    kept = _span_docs_from(d.join(keepers, "doc_id", "left_semi"))
    return _spans_out_flat(extract(kept, None))


_SQL_DEDUP_EXTRACT = """
WITH keep AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5(array_to_string({wtoks}, ' '))
), t AS (
  SELECT d.doc_id, {toks} AS toks
  FROM documents d JOIN keep USING (doc_id)
), c AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(0, greatest(cast(ceil(len(toks)/10.0) AS int),1)-1),
             i -> {{'idx': i,
                   'txt': array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')}})) AS ch
  FROM t
), s AS (
  SELECT doc_id, ch.idx AS idx, ch.txt AS span_text,
         {ctoks} AS ctoks
  FROM c
), k AS (
  SELECT doc_id, idx, span_text FROM s
  WHERE len(ctoks) >= 8
    AND len(list_filter(ctoks, x -> x = '<a>')) * 1.0 / len(ctoks) < 0.4
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS int) AS span_order,
       span_text
FROM k
""".format(
    wtoks=_WORD_TOKS.format(c="text"),
    toks=_WS_TOKS.format(c="text"),
    ctoks=_WS_TOKS.format(c="ch.txt"),
)


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    p = DD.ngram_jaccard_pairs(d, n=3, threshold=0.05)
    return p.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


_SQL_NEAR_DUP = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < 150
), sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(generate_series(0, len(toks)-3),
        i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
    ELSE [array_to_string(toks, ' ')] END AS s
  FROM t
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.05
""".format(toks=_WORD_TOKS.format(c="text"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    return DD.minhash_lsh_pairs(d, n=3, k=16, bands=4)


# signature-level oracle: pins the keyed-md5 permutation-min values
# themselves, not just the (coincidence-tolerant) candidate pair set
def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.array_join(
            DD.minhash_signature(F.col("text"), n=3, k=8), "|"
        ).alias("sig"),
    )


# --------------------------------------------------------------------
# Cross-document duplicated passages (exact-substring dedup tier):
# word 5-gram shingles grouped corpus-wide, flagged when >= 2 distinct
# documents share one.  ONE hash aggregate keyed by shingle — the only
# shape that survives 100 TB (operators/dedup.duplicate_passages).
# --------------------------------------------------------------------
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.duplicate_passages(
        T(spark, sf_dir, "documents"), n=5, min_docs=2
    )


_SQL_DUP_PASSAGES = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), sh AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) >= 5 THEN
      list_distinct(list_transform(generate_series(0, len(toks)-5),
        i -> array_to_string(list_slice(toks, i+1, i+5), ' ')))
    ELSE [array_to_string(toks, ' ')] END) AS passage
  FROM t
)
SELECT passage,
       count(DISTINCT {{'id': doc_id}}) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM sh GROUP BY passage
HAVING count(DISTINCT {{'id': doc_id}}) >= 2
""".format(toks=_WORD_TOKS.format(c="text"))


_SQL_MINHASH_SIGS = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < 200
), sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(generate_series(0, len(toks)-3),
        i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
    ELSE [array_to_string(toks, ' ')] END AS s
  FROM t
)
SELECT doc_id,
  array_to_string(list_transform(generate_series(0, 7),
    h -> list_aggregate(list_transform(s, x -> md5(h || '|' || x)), 'min')),
    '|') AS sig
FROM sh
""".format(toks=_WORD_TOKS.format(c="text"))


_SQL_MINHASH = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id < 150
), sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(generate_series(0, len(toks)-3),
        i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
    ELSE [array_to_string(toks, ' ')] END AS s
  FROM t
), sig AS (
  SELECT doc_id,
    list_transform(generate_series(0, 15),
      h -> list_aggregate(list_transform(s, x -> md5(h || '|' || x)), 'min')) AS sg
  FROM sh
), banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(list_slice(sg, b*4+1, b*4+4), '|')) AS bucket
  FROM sig, unnest(generate_series(0, 3)) AS u(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 18-19. Embedding similarity search
# --------------------------------------------------------------------
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    res = SIM.cosine_topk(emb.where(F.col("vec_id") != 0), [float(x) for x in qvec], k=5)
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


_SQL_COSINE_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_inner_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_inner_product(qv, qv))), 4) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY list_inner_product(CAST(embedding AS DOUBLE[]), qv)
           / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * sqrt(list_inner_product(qv, qv))) DESC, vec_id
LIMIT 5
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch k-NN join: 3 query vectors vs the rest of the
    corpus, top-5 per query (similarity.knn_join — broadcast x corpus
    scoring + two-phase partial top-k).  Oracle: brute-force cross
    join + row_number window."""
    emb = T(spark, sf_dir, "embeddings")
    res = SIM.knn_join(
        emb.where(F.col("vec_id") < 3),
        emb.where(F.col("vec_id") >= 3),
        k=5,
        q_id="vec_id",
    )
    return res.select(
        "qid", F.col("id").alias("vec_id"), F.round("cosine", 4).alias("cosine")
    )


_SQL_KNN_JOIN = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id >= 3),
     s AS (SELECT qid, vec_id,
                  list_inner_product(qv, v)
                    / (sqrt(list_inner_product(qv, qv))
                       * sqrt(list_inner_product(v, v))) AS c_raw
           FROM q CROSS JOIN c),
     r AS (SELECT qid, vec_id, c_raw,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY c_raw DESC, vec_id) AS rnk
           FROM s)
SELECT qid, vec_id, round(c_raw, 4) AS cosine FROM r WHERE rnk <= 5
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    rows = {r["vec_id"]: r["embedding"] for r in emb.where(F.col("vec_id") <= 4).collect()}
    qvec = [float(x) for x in rows[0]]
    planes = [[float(x) for x in rows[i]] for i in (1, 2, 3, 4)]
    res = SIM.ann_lsh_topk(emb.where(F.col("vec_id") > 4), qvec, planes, k=5)
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


_SQL_ANN_LSH = """
WITH p AS (
  SELECT max(CASE WHEN vec_id = 0 THEN CAST(embedding AS DOUBLE[]) END) AS qv,
         max(CASE WHEN vec_id = 1 THEN CAST(embedding AS DOUBLE[]) END) AS p1,
         max(CASE WHEN vec_id = 2 THEN CAST(embedding AS DOUBLE[]) END) AS p2,
         max(CASE WHEN vec_id = 3 THEN CAST(embedding AS DOUBLE[]) END) AS p3,
         max(CASE WHEN vec_id = 4 THEN CAST(embedding AS DOUBLE[]) END) AS p4
  FROM embeddings WHERE vec_id <= 4
), sigs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    (CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), p1) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), p2) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), p3) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), p4) >= 0 THEN '1' ELSE '0' END) AS sig,
    (CASE WHEN list_inner_product(qv, p1) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(qv, p2) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(qv, p3) >= 0 THEN '1' ELSE '0' END)
 || (CASE WHEN list_inner_product(qv, p4) >= 0 THEN '1' ELSE '0' END) AS qsig,
    qv
  FROM embeddings, p WHERE vec_id > 4
)
SELECT vec_id,
       round(list_inner_product(v, qv)
             / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))), 4) AS cosine
FROM sigs WHERE sig = qsig
ORDER BY list_inner_product(v, qv)
           / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(qv, qv))) DESC, vec_id
LIMIT 5
"""


# --------------------------------------------------------------------
# 20-25. Text analysis family (K1, K3, C2-C11, A8-A9)
# --------------------------------------------------------------------
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    score = TX.quality_score(F.col("text"))
    return d.select(
        "doc_id",
        F.round(score, 3).alias("quality"),
        TX.quality_level(score).alias("level"),
        TX.strategy(score).alias("strategy"),
    )


_SQL_QUALITY = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), f AS (
  SELECT doc_id,
    least(1.0, len(toks) / 100.0) AS length_score,
    CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) * 1.0 / len(toks) ELSE 0.0 END AS diversity,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z0-9]+'))) * 1.0 / len(toks)
    ELSE 0.0 END AS alnum,
    1.0 - CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> x = 'a')) * 1.0 / len(toks) ELSE 0.0 END AS link_pen
  FROM t
), s AS (
  SELECT doc_id,
         0.30*length_score + 0.25*diversity + 0.25*alnum + 0.20*link_pen AS score
  FROM f
)
SELECT doc_id, round(score, 3) AS quality,
  CASE WHEN score >= 0.8 THEN 'excellent' WHEN score >= 0.6 THEN 'good'
       WHEN score >= 0.4 THEN 'fair' WHEN score >= 0.2 THEN 'poor'
       ELSE 'unusable' END AS level,
  CASE WHEN score >= 0.8 THEN 'minimal' WHEN score >= 0.4 THEN 'balanced'
       ELSE 'enhanced' END AS strategy
FROM s
""".format(toks=_WS_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 21b. K7 improvement measurement (image_enhancer.py:297-334): quality
#      score re-computed after the enhancement tier, delta as lineage.
#      Dirty text is derived deterministically (an embedded control
#      char inside a token) so the balanced tier measurably improves
#      the alnum feature.
# --------------------------------------------------------------------
def q_quality_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.cleanup import normalize_balanced

    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    dirty = F.concat(F.col("text"), F.lit(" q\x07z \x07\x07 w!"))
    before = TX.quality_score(dirty)
    after = TX.quality_score(normalize_balanced(dirty))
    return d.select(
        "doc_id",
        F.round(before, 3).alias("q_before"),
        F.round(after, 3).alias("q_after"),
        F.round(after - before, 3).alias("q_delta"),
    )


_SQL_QUALITY_DELTA = """
WITH t AS (
  SELECT doc_id,
         text || ' q' || chr(7) || 'z ' || chr(7) || chr(7) || ' w!' AS dirty
  FROM documents WHERE doc_id < 300
), n AS (
  SELECT doc_id, dirty,
    regexp_replace(regexp_replace(
      regexp_replace(
        regexp_replace(dirty, '[\\x00-\\x08\\x0b-\\x1f]', '', 'g'),
        '\\n{{3,}}', chr(10) || chr(10), 'g'),
      '[ \\t]+', ' ', 'g'),
      '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g') AS clean
  FROM t
), f AS (
  SELECT doc_id,
         {q_dirty} AS q_before,
         {q_clean} AS q_after
  FROM n
)
SELECT doc_id, round(q_before, 3) AS q_before, round(q_after, 3) AS q_after,
       round(q_after - q_before, 3) AS q_delta
FROM f
"""


def _quality_sql(col: str) -> str:
    toks = _WS_TOKS.format(c=col)
    return (
        f"(0.30 * least(1.0, len({toks}) / 100.0)"
        f" + 0.25 * (CASE WHEN len({toks}) > 0 THEN"
        f"   len(list_distinct({toks})) * 1.0 / len({toks}) ELSE 0.0 END)"
        f" + 0.25 * (CASE WHEN len({toks}) > 0 THEN"
        f"   len(list_filter({toks}, x -> regexp_full_match(x, '[A-Za-z0-9]+')))"
        f"   * 1.0 / len({toks}) ELSE 0.0 END)"
        f" + 0.20 * (1.0 - CASE WHEN len({toks}) > 0 THEN"
        f"   len(list_filter({toks}, x -> x = 'a')) * 1.0 / len({toks})"
        f"   ELSE 0.0 END))"
    )


_SQL_QUALITY_DELTA = _SQL_QUALITY_DELTA.format(
    q_dirty=_quality_sql("dirty"), q_clean=_quality_sql("clean")
)


def q_strategy_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.select(TX.strategy(TX.quality_score(F.col("text"))).alias("strategy"))
        .groupBy("strategy")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SQL_STRATEGY = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), s AS (
  SELECT 0.30*least(1.0, len(toks)/100.0)
       + 0.25*(CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))*1.0/len(toks) ELSE 0.0 END)
       + 0.25*(CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z0-9]+')))*1.0/len(toks)
           ELSE 0.0 END)
       + 0.20*(1.0 - CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> x = 'a'))*1.0/len(toks) ELSE 0.0 END) AS score
  FROM t
)
SELECT CASE WHEN score >= 0.8 THEN 'minimal' WHEN score >= 0.4 THEN 'balanced'
            ELSE 'enhanced' END AS strategy,
       count(*) AS n_docs
FROM s GROUP BY 1
""".format(toks=_WS_TOKS.format(c="text"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", TX.lang_guess(F.col("text")).alias("lang_guess"))


_SQL_LANG = """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT doc_id,
  CASE WHEN len(toks) > 0 AND
    len(list_filter(toks, x -> list_contains(
      ['the','a','an','of','and','to','in','is','it','for'], x))) * 1.0 / len(toks) >= 0.05
  THEN 'en' ELSE 'unk' END AS lang_guess
FROM t
""".format(toks=_WORD_TOKS.format(c="text"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


_SQL_FINGERPRINT = """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS bigint),
      list_transform(toks, x -> CAST(length(x)*7 + ascii(substring(x,1,1)) AS bigint))),
    (a, b) -> (a * 31 + b) % 2147483647) AS fp
FROM t
""".format(toks=_WS_TOKS.format(c="text"))


# --------------------------------------------------------------------
# Per-document text profile: language ID + rolling-hash fingerprint +
# token statistics in ONE scan (merged from the former lang_id /
# fingerprint / token_stats driver queries so each keeps a driver
# correctness row under the 50-query cap; the standalone forms remain
# locally oracle-checked as non-driver records).  Same grain, same table —
# the merge costs nothing and saves two corpus scans.
# --------------------------------------------------------------------
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    ws = TX.tokens(F.col("text"))
    wd = TX.word_tokens(F.col("text"))
    return d.select(
        "doc_id",
        TX.lang_guess(F.col("text")).alias("lang_guess"),
        TX.fingerprint(F.col("text")).alias("fp"),
        F.size(ws).alias("n_ws_tokens"),
        F.size(wd).alias("n_word_tokens"),
        F.size(F.array_distinct(wd)).alias("n_distinct"),
        F.size(F.filter(ws, lambda t: F.length(t) > 5)).alias("n_long_tokens"),
    )


_SQL_TEXT_PROFILE = """
WITH t AS (
  SELECT doc_id, {ws} AS ws, {wd} AS wd FROM documents
)
SELECT doc_id,
  CASE WHEN len(wd) > 0 AND
    len(list_filter(wd, x -> list_contains(
      ['the','a','an','of','and','to','in','is','it','for'], x))) * 1.0
      / len(wd) >= 0.05
  THEN 'en' ELSE 'unk' END AS lang_guess,
  list_reduce(
    list_prepend(CAST(0 AS bigint),
      list_transform(ws, x -> CAST(length(x)*7 + ascii(substring(x,1,1)) AS bigint))),
    (a, b) -> (a * 31 + b) % 2147483647) AS fp,
  CAST(len(ws) AS int) AS n_ws_tokens,
  CAST(len(wd) AS int) AS n_word_tokens,
  CAST(len(list_distinct(wd)) AS int) AS n_distinct,
  CAST(len(list_filter(ws, x -> length(x) > 5)) AS int) AS n_long_tokens
FROM t
""".format(ws=_WS_TOKS.format(c="text"), wd=_WORD_TOKS.format(c="text"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    ws = TX.tokens(F.col("text"))
    wd = TX.word_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(wd).alias("n_word_tokens"),
        F.size(F.array_distinct(wd)).alias("n_distinct"),
        F.size(F.filter(ws, lambda t: F.length(t) > 5)).alias("n_long_tokens"),
    )


_SQL_TOKEN_STATS = """
WITH t AS (
  SELECT doc_id, {ws} AS ws, {wd} AS wd FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS int) AS n_ws_tokens,
       CAST(len(wd) AS int) AS n_word_tokens,
       CAST(len(list_distinct(wd)) AS int) AS n_distinct,
       CAST(len(list_filter(ws, x -> length(x) > 5)) AS int) AS n_long_tokens
FROM t
""".format(ws=_WS_TOKS.format(c="text"), wd=_WORD_TOKS.format(c="text"))


def q_bucket_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 100, "xs")
        .when(F.col("n_chars") < 200, "s")
        .when(F.col("n_chars") < 300, "m")
        .when(F.col("n_chars") < 400, "l")
        .otherwise("xl")
    )
    return d.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))


_SQL_BUCKET = """
SELECT CASE WHEN n_chars < 100 THEN 'xs' WHEN n_chars < 200 THEN 's'
            WHEN n_chars < 300 THEN 'm' WHEN n_chars < 400 THEN 'l'
            ELSE 'xl' END AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_boost_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    base = F.col("l_discount") * 10
    mult = (
        F.when(F.col("l_quantity") > 40, 1.3)
        .when(F.col("l_quantity") > 25, 1.2)
        .when(F.col("l_quantity") > 10, 1.1)
        .otherwise(1.0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.least(F.lit(1.0), base * mult), 4).alias("boosted_conf"),
    )


_SQL_BOOST = """
SELECT l_orderkey, l_linenumber,
  round(least(1.0, l_discount * 10 *
    (CASE WHEN l_quantity > 40 THEN 1.3 WHEN l_quantity > 25 THEN 1.2
          WHEN l_quantity > 10 THEN 1.1 ELSE 1.0 END)), 4) AS boosted_conf
FROM lineitem WHERE l_orderkey < 500
"""


def q_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # explode_outer: avoids the inferred size>0 filter duplicating the
    # tokenizer (see _spans_out_flat); countDistinct ignores the null
    # row an empty token array contributes.
    return (
        d.select(F.explode_outer(TX.word_tokens(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
    )


_SQL_DISTINCT_TOKENS = """
SELECT count(DISTINCT tok) AS n_distinct_tokens
FROM (SELECT unnest({toks}) AS tok FROM documents)
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 29. XY-cut layout reading order (K8/K11 analog — operators/layout.py)
#     Two-column fixture derived from documents: the recursive kernel's
#     column-major output has a closed form the oracle can state.
# --------------------------------------------------------------------
def q_xy_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.layout import xy_cut_reading_order

    _ensure_pyfiles(spark)

    d = T(spark, sf_dir, "documents").select(
        "doc_id", (F.lit(4) + F.pmod(F.col("n_chars"), F.lit(5))).alias("nb")
    )
    blocks = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("block_id")
    ).select(
        "doc_id",
        F.col("block_id").cast("int").alias("block_id"),
        (F.pmod(F.col("block_id"), F.lit(2)) * 60.0).alias("x0"),
        (F.floor(F.col("block_id") / 2) * 20.0).alias("y0"),
        (F.pmod(F.col("block_id"), F.lit(2)) * 60.0 + 50.0).alias("x1"),
        (F.floor(F.col("block_id") / 2) * 20.0 + 15.0).alias("y1"),
    )
    return xy_cut_reading_order(blocks)


_SQL_XY_CUT = """
WITH t AS (SELECT doc_id, 4 + n_chars % 5 AS nb FROM documents),
b AS (SELECT doc_id, nb, unnest(generate_series(0, nb - 1)) AS block_id FROM t)
SELECT doc_id, CAST(block_id AS int) AS block_id,
       CAST(CASE WHEN block_id % 2 = 0 THEN block_id // 2
                 ELSE (nb + 1) // 2 + block_id // 2 END AS int) AS reading_order
FROM b
"""


# --------------------------------------------------------------------
# 30-31. SimHash fingerprints + banded near-dup pairs (dedup tier 4)
# --------------------------------------------------------------------
def _simhash_bit_sql(b: int) -> str:
    return (
        "CASE WHEN coalesce(list_sum(list_transform(hs, h -> "
        f"CASE WHEN substring(h, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END)), 0) >= 0 "
        "THEN '1' ELSE '0' END"
    )


def q_simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compact 16-bit oracle tier; the library default (64-bit) is
    # verified end-to-end by simhash64_pairs below
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", DD.simhash_signature(F.col("text"), bits=16).alias("sig")
    )


_SQL_SIMHASH_SIGS = """
WITH t AS (SELECT doc_id, list_distinct({wd}) AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, x -> md5(x)) AS hs FROM t)
SELECT doc_id, concat({bits}) AS sig FROM h
""".format(
    wd=_WORD_TOKS.format(c="text"),
    bits=", ".join(_simhash_bit_sql(b) for b in range(16)),
)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_pairs(
        T(spark, sf_dir, "documents").where(F.col("doc_id") < 1000),
        bits=16, bands=4, max_hamming=1,
    )


_SQL_SIMHASH_PAIRS = """
WITH t AS (SELECT doc_id, list_distinct({wd}) AS toks FROM documents WHERE doc_id < 1000),
h AS (SELECT doc_id, list_transform(toks, x -> md5(x)) AS hs FROM t),
s AS (SELECT doc_id, concat({bits}) AS sig FROM h),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ({ham}) AS hamming
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= 1
""".format(
    wd=_WORD_TOKS.format(c="text"),
    bits=", ".join(_simhash_bit_sql(b) for b in range(16)),
    ham=" + ".join(
        f"CASE WHEN substring(a.sig, {i + 1}, 1) <> substring(b.sig, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(16)
    ),
)


# --------------------------------------------------------------------
# 31b. 64-bit SimHash banded pairs — the library DEFAULT configuration
#      (64-bit signature, bands = max_hamming + 1 = 4: the widest
#      16-bit band values the pigeonhole guarantee allows, so buckets
#      stay selective where narrow bands — 16-bit sigs' 4-bit bands —
#      degenerate toward a cross join).  Brute-force DuckDB oracle:
#      with max_hamming <= bands-1 the banded join is pigeonhole-exact
#      and band choice never changes the output.
# --------------------------------------------------------------------
def q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_pairs(
        T(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    )


def _simhash64_bit_sql(b: int) -> str:
    hs = f"hs{b // 32}"
    return (
        f"CASE WHEN coalesce(list_sum(list_transform({hs}, h -> "
        f"CASE WHEN substring(h, {b % 32 + 1}, 1) >= '8' THEN 1 ELSE -1 END)), 0) >= 0 "
        "THEN '1' ELSE '0' END"
    )


_SQL_SIMHASH64_PAIRS = """
WITH t AS (SELECT doc_id, list_distinct({wd}) AS toks FROM documents WHERE doc_id < 600),
h AS (SELECT doc_id, list_transform(toks, x -> md5(x)) AS hs0,
             list_transform(toks, x -> md5('1|' || x)) AS hs1 FROM t),
s AS (SELECT doc_id, concat({bits}) AS sig FROM h),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ({ham}) AS hamming
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
""".format(
    wd=_WORD_TOKS.format(c="text"),
    bits=", ".join(_simhash64_bit_sql(b) for b in range(64)),
    ham=" + ".join(
        f"CASE WHEN substring(a.sig, {i + 1}, 1) <> substring(b.sig, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(64)
    ),
)


# --------------------------------------------------------------------
# 32. Embedding-cosine near-duplicate pairs (dedup tier 5)
# --------------------------------------------------------------------
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    p = SIM.cosine_dup_pairs(emb, threshold=0.35)
    return p.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_SQL_EMB_NEAR_DUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 1000)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v))
                * sqrt(list_inner_product(b.v, b.v))), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
      / (sqrt(list_inner_product(a.v, a.v))
         * sqrt(list_inner_product(b.v, b.v))) >= 0.35
"""


# --------------------------------------------------------------------
# 32g. SemDeDup (operators/similarity.py semdedup): cluster embeddings
#      against a fixed codebook, drop vectors dominated by a smaller-id
#      >=threshold neighbor WITHIN their cluster.  The oracle tier uses
#      the first 4 vectors as the codebook (derived from the data on
#      BOTH engines — the Spark side collects 4x64 floats, metadata
#      scale); the k-means codebook tier is pytest-pinned
#      (tests/test_semdedup.py).  threshold=0.35 sits 1.1e-4 from the
#      nearest within-cluster cosine on this synthetic table, so both
#      engines agree despite independent float summation.
# --------------------------------------------------------------------
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Codebook sized ~sqrt(N) (the SemDeDup paper's rule, and the
    # operator docstring's 100 TB shape): with k fixed, per-cluster
    # candidate sets grow linearly with the corpus and the in-cluster
    # self-join quadratically — the sf3 gate caught exactly that (a
    # pinned k=4 ran ~minutes at sf0.1 and ~an hour at sf3; sqrt(N)
    # keeps total pair work ~N^1.5/N = k*(N/k)^2 = N^1.5/k bounded).
    # Deterministic + SQL-portable: centroids are the first
    # ceil(sqrt(N)) vectors by vec_id, the count being the only
    # driver-side scalar (metadata-scale, same value both engines).
    import math

    emb = T(spark, sf_dir, "embeddings")
    k = math.ceil(math.sqrt(emb.count()))
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    out = SIM.semdedup(emb, centroids=cents, threshold=0.35)
    return out.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), "keep"
    )


_SQL_SEMDEDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ranked AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
           FROM e),
c AS (SELECT cid, cv FROM ranked
      WHERE cid < CEIL(SQRT((SELECT COUNT(*) FROM e)))),
a AS (SELECT vec_id, v, cid,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_inner_product(v, cv)
                        / (sqrt(list_inner_product(v, v))
                           * sqrt(list_inner_product(cv, cv))) DESC,
                        cid ASC) AS rn
      FROM e CROSS JOIN c),
asg AS (SELECT vec_id, v, cid FROM a WHERE rn = 1),
dom AS (SELECT DISTINCT x.vec_id
        FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id > y.vec_id
        WHERE list_inner_product(x.v, y.v)
              / (sqrt(list_inner_product(x.v, x.v))
                 * sqrt(list_inner_product(y.v, y.v))) >= 0.35)
SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cluster,
       dom.vec_id IS NULL AS keep
FROM asg LEFT JOIN dom USING (vec_id)
"""


# --------------------------------------------------------------------
# 32b. Corpus curation composition (operators/curate.py): quality floor
#      -> language allowlist -> exact dedup -> SimHash near-dup drop,
#      one disposition + witness row per document.  The flagship
#      LLM-training-data flow with every arm oracle-checked in one
#      query.  min_quality=0.7 sits inside the synthetic corpus's
#      0.63..0.82 quality range so the low_quality arm genuinely fires;
#      the exact_dup arm cannot fire on this table (all 500 sf0.01
#      texts are distinct — exact_dedup's oracle pins that) and is
#      pinned by tests/test_curate.py on a crafted corpus instead.
#      doc_id < 2000 bounds the O(n^2) oracle verification join; a
#      no-op at sf0.01 (500 docs).
# --------------------------------------------------------------------
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import curate_corpus

    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    return curate_corpus(d, min_quality=0.7, languages=("en",))


# --------------------------------------------------------------------
# 32c. Sequence packing (operators/pack.py): greedy first-fit token
#      packing into budget-bounded training sequences.  Packing is
#      partition-local by design; the driver query coalesces to ONE
#      partition so the layout is the global greedy over doc_id order,
#      which a DuckDB recursive CTE replays exactly (the greedy reset
#      is a two-field state machine: pack += (acc + c > budget),
#      acc = reset-or-accumulate — not a plain window).
# --------------------------------------------------------------------
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.pack import pack_sequences

    d = T(spark, sf_dir, "documents").coalesce(1)
    return pack_sequences(d, budget=500)


_SQL_PACK = """
WITH RECURSIVE d AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
         row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents
), rec AS (
  SELECT rn, doc_id, n_tokens, 0 AS pack, n_tokens AS acc
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.rn, d.doc_id, d.n_tokens,
         CASE WHEN rec.acc + d.n_tokens > 500 THEN rec.pack + 1 ELSE rec.pack END,
         CASE WHEN rec.acc + d.n_tokens > 500 THEN d.n_tokens
              ELSE rec.acc + d.n_tokens END
  FROM rec JOIN d ON d.rn = rec.rn + 1
)
SELECT doc_id, n_tokens, '0-' || CAST(pack AS VARCHAR) AS pack_id FROM rec
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32d. Deterministic stratified hash sampling (operators/curate.py):
#      keep-iff substring(md5(key),1,8) < per-stratum hex threshold —
#      reproducible across runs/cluster sizes/repartitionings, a pure
#      narrow filter, and byte-portable to the DuckDB oracle (same
#      md5, same fixed-length hex string comparison).
# --------------------------------------------------------------------
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import hash_sample

    d = T(spark, sf_dir, "documents")
    return hash_sample(
        d,
        strata_col="lang",
        rates={"en": 0.6, "de": 0.3},
        default_rate=0.15,
        salt="r3",
    ).select("doc_id", "lang")


_SQL_HASH_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE substring(md5('r3|' || CAST(doc_id AS VARCHAR)), 1, 8)
      < (CASE lang WHEN 'en' THEN '{en}' WHEN 'de' THEN '{de}'
               ELSE '{other}' END)
""".format(
    en=format(int(0.6 * 16**8), "08x"),
    de=format(int(0.3 * 16**8), "08x"),
    other=format(int(0.15 * 16**8), "08x"),
)


# --------------------------------------------------------------------
# 32h. Data mixing (operators/curate.py mix_corpus): downsample each
#      language so the corpus follows a target mixture — budget=None
#      keeps the largest corpus achievable at exactly that mixture
#      (the binding domain keeps rate 1.0).  The oracle mirrors the
#      rate arithmetic byte-for-byte: per-domain counts -> s = min(n/w)
#      -> rate = w*s/n -> md5-threshold keep predicate, all in IEEE
#      double with the same operation order, so the kept ROW SET (not
#      just counts) hash-matches.  Weights are relative (ratios only),
#      cast to DOUBLE in SQL because DuckDB VALUES literals default to
#      DECIMAL.
# --------------------------------------------------------------------
def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import mix_corpus

    sampled, _rates = mix_corpus(
        T(spark, sf_dir, "documents"),
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1},
        domain_col="lang",
        salt="mix",
    )
    return sampled.select("doc_id", "lang")


# --------------------------------------------------------------------
# 32i. C4-style line cleaning (operators/curate.py clean_lines): the
#      synthetic corpus is single-line word salad, so the query first
#      derives a deterministic multi-line column (every " the " becomes
#      ".\n" — identical replace() on both engines), then applies the
#      C4 rules: >= 3 words, terminal punctuation, no blocklisted
#      phrase ("agg" here so the rule genuinely fires on this corpus).
# --------------------------------------------------------------------
def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import clean_lines

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r" the ", ".\n").alias("text"),
    )
    out = clean_lines(d, min_words=3, blocklist=("agg",), min_lines=2)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_lines_in").cast("long").alias("n_lines_in"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        "keep",
    )


_SQL_CLEAN_LINES = """
WITH d AS (SELECT doc_id, replace(text, ' the ', '.' || chr(10)) AS text
           FROM documents),
l AS (SELECT doc_id,
             list_filter(
               list_transform(string_split(coalesce(text, ''), chr(10)),
                              x -> trim(x)),
               x -> x <> '') AS lines
      FROM d),
k AS (SELECT doc_id, lines,
             list_filter(lines, x ->
               len(string_split_regex(x, '\\s+')) >= 3
               AND regexp_matches(x, '[.!?"]$')
               AND NOT contains(lower(x), 'agg')) AS kept
      FROM l)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines_in,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       len(kept) >= 2 AS keep
FROM k
"""


# --------------------------------------------------------------------
# 32j. PII scrub (operators/curate.py scrub_pii): the synthetic corpus
#      carries no PII, so the query first plants it deterministically
#      (" agg " -> an email, " scan " -> an IPv4, " slow " -> a phone
#      number — identical replace() on both engines), then redacts and
#      counts.  Patterns are Java-regex/RE2 portable.
# --------------------------------------------------------------------
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import scrub_pii

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", r" agg ", " bob@example.com "),
                r" scan ",
                " 10.20.30.40 ",
            ),
            r" slow ",
            " +14155550123 ",
        ).alias("text"),
    )
    return scrub_pii(d)


_SQL_SCRUB_PII = r"""
WITH d AS (SELECT doc_id,
                  replace(replace(replace(text,
                    ' agg ', ' bob@example.com '),
                    ' scan ', ' 10.20.30.40 '),
                    ' slow ', ' +14155550123 ') AS text
           FROM documents),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
              regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t FROM d),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
              regexp_replace(t,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                  '<IPV4>', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
              len(regexp_extract_all(t, '\+\d{7,15}\b')) AS n_phone,
              regexp_replace(t, '\+\d{7,15}\b', '<PHONE>', 'g') AS t
       FROM s2)
SELECT doc_id, t AS clean_text,
       CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       CAST(n_phone AS BIGINT) AS n_phone,
       CAST(n_email + n_ipv4 + n_phone AS BIGINT) AS n_pii
FROM s3
"""


# --------------------------------------------------------------------
# 32k. Gopher document-level quality rules (operators/curate.py
#      gopher_rules): " fast " -> " ### " plants symbol noise so the
#      symbol-ratio rule genuinely fires on this corpus; min_words=25
#      splits the synthetic population; 'the'/'a' are real stopwords
#      here so the distinct-stopword rule discriminates too.
# --------------------------------------------------------------------
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import gopher_rules

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r" fast ", " ### ").alias("text"),
    )
    return gopher_rules(
        d, min_words=25, min_stopwords=2,
        stopwords=("the", "a", "an", "of", "and"),
    )


_SQL_GOPHER_RULES = r"""
WITH d AS (SELECT doc_id, replace(text, ' fast ', ' ### ') AS text
           FROM documents),
w AS (SELECT doc_id, coalesce(text, '') AS text,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '') AS words
      FROM d),
m AS (SELECT doc_id, text, words, len(words) AS n_words,
             CASE WHEN len(words) > 0 THEN round(
               CAST(list_aggregate(list_transform(words, x -> len(x)),
                                   'sum') AS DOUBLE) / len(words), 4)
             ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(words) > 0 THEN round(
               CAST(len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
               / len(words), 4)
             ELSE 0.0 END AS symbol_ratio,
             CASE WHEN len(words) > 0 THEN round(
               CAST(len(list_filter(words,
                    x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
               / len(words), 4)
             ELSE 0.0 END AS alpha_frac,
             len(list_intersect(list_transform(words, x -> lower(x)),
                 ['the', 'a', 'an', 'of', 'and'])) AS n_stop
      FROM w)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       mean_word_len, symbol_ratio, alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stop,
       (n_words >= 25 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio < 0.1 AND alpha_frac >= 0.8
        AND n_stop >= 2) AS keep
FROM m
"""


# --------------------------------------------------------------------
# 32l. Corpus funnel: the full pretraining-data ladder composed from
#      the public curation API — C4 line cleaning -> Gopher doc gates
#      -> PII scrub -> exact dedup — reporting the per-stage funnel
#      (docs surviving, whitespace tokens remaining).  Every stage is a
#      narrow projection over the previous one; the only shuffles are
#      the five tiny aggregates and the final dedup groupBy.  The same
#      deterministic derivations as 32i/32j plant multi-line text and
#      PII into the synthetic corpus so every rung genuinely fires.
# --------------------------------------------------------------------
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import (
        clean_lines,
        gopher_rules,
        scrub_pii,
    )

    def ntok(c):
        return F.size(
            F.array_remove(F.split(F.coalesce(c, F.lit("")), r"\s+"), "")
        )

    def stage(df, name, text_col):
        return df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(ntok(F.col(text_col))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", r" salt ", " bob@example.com "),
            r" the ",
            ".\n",
        ).alias("text"),
    )
    cl = clean_lines(d, min_words=3, blocklist=("agg",), min_lines=2).where(
        "keep"
    )
    g_keep = (
        gopher_rules(
            cl.select("doc_id", F.col("clean_text").alias("text")),
            min_words=8,
            min_stopwords=1,
            stopwords=("a",),
        )
        .where("keep")
        .select("doc_id")
    )
    gd = cl.join(g_keep, "doc_id").select("doc_id", "clean_text")
    sc = scrub_pii(gd.select("doc_id", F.col("clean_text").alias("text")))
    ded = sc.groupBy("clean_text").agg(F.min("doc_id").alias("doc_id"))
    return (
        stage(d, "00_input", "text")
        .unionAll(stage(cl, "10_line_clean", "clean_text"))
        .unionAll(stage(gd, "20_gopher", "clean_text"))
        .unionAll(stage(sc, "30_pii_scrub", "clean_text"))
        .unionAll(stage(ded, "40_exact_dedup", "clean_text"))
    )


_SQL_CORPUS_FUNNEL = r"""
WITH d AS (SELECT doc_id,
                  replace(replace(text, ' salt ', ' bob@example.com '),
                          ' the ', '.' || chr(10)) AS text
           FROM documents),
cl0 AS (SELECT doc_id,
               list_filter(
                 list_transform(string_split(coalesce(text, ''), chr(10)),
                                x -> trim(x)),
                 x -> x <> '') AS lines
        FROM d),
cl AS (SELECT doc_id,
              coalesce(array_to_string(list_filter(lines, x ->
                len(string_split_regex(x, '\s+')) >= 3
                AND regexp_matches(x, '[.!?"]$')
                AND NOT contains(lower(x), 'agg')), chr(10)), '')
              AS clean_text,
              len(list_filter(lines, x ->
                len(string_split_regex(x, '\s+')) >= 3
                AND regexp_matches(x, '[.!?"]$')
                AND NOT contains(lower(x), 'agg'))) AS n_kept
       FROM cl0),
c1 AS (SELECT doc_id, clean_text FROM cl WHERE n_kept >= 2),
gm AS (SELECT doc_id, clean_text,
              list_filter(string_split_regex(coalesce(clean_text, ''),
                                             '\s+'),
                          x -> x <> '') AS words
       FROM c1),
g AS (SELECT doc_id, clean_text FROM gm
      WHERE len(words) >= 8 AND len(words) <= 100000
        AND CASE WHEN len(words) > 0 THEN round(
              CAST(list_aggregate(list_transform(words, x -> len(x)),
                                  'sum') AS DOUBLE) / len(words), 4)
            ELSE 0.0 END BETWEEN 3.0 AND 10.0
        AND CASE WHEN len(words) > 0 THEN round(
              CAST(len(regexp_extract_all(clean_text, '#'))
                   + len(regexp_extract_all(clean_text, '\.\.\.'))
                   AS DOUBLE) / len(words), 4)
            ELSE 0.0 END < 0.1
        AND CASE WHEN len(words) > 0 THEN round(
              CAST(len(list_filter(words,
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
              / len(words), 4)
            ELSE 0.0 END >= 0.8
        AND len(list_intersect(list_transform(words, x -> lower(x)),
                               ['a'])) >= 1),
sc AS (SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(clean_text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                  '<IPV4>', 'g'),
                '\+\d{7,15}\b', '<PHONE>', 'g') AS clean_text
       FROM g),
ded AS (SELECT min(doc_id) AS doc_id, clean_text FROM sc
        GROUP BY clean_text)
SELECT '00_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(len(list_filter(
         string_split_regex(coalesce(text, ''), '\s+'),
         x -> x <> ''))), 0) AS BIGINT) AS n_tokens FROM d
UNION ALL
SELECT '10_line_clean', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(list_filter(
         string_split_regex(coalesce(clean_text, ''), '\s+'),
         x -> x <> ''))), 0) AS BIGINT) FROM c1
UNION ALL
SELECT '20_gopher', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(list_filter(
         string_split_regex(coalesce(clean_text, ''), '\s+'),
         x -> x <> ''))), 0) AS BIGINT) FROM g
UNION ALL
SELECT '30_pii_scrub', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(list_filter(
         string_split_regex(coalesce(clean_text, ''), '\s+'),
         x -> x <> ''))), 0) AS BIGINT) FROM sc
UNION ALL
SELECT '40_exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(list_filter(
         string_split_regex(coalesce(clean_text, ''), '\s+'),
         x -> x <> ''))), 0) AS BIGINT) FROM ded
"""


# --------------------------------------------------------------------
# 32m. Training-order shuffle (operators/curate.py shuffle_shards):
#      deal documents into 7 shards by content hash with a total,
#      reproducible within-shard order.  The oracle replays the md5
#      arithmetic exactly ('0x'||hex -> UBIGINT in DuckDB, conv() in
#      Spark).
# --------------------------------------------------------------------
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import shuffle_shards

    d = T(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, n_shards=7, salt="epoch0").select(
        "doc_id", "shard", "pos"
    )


_SQL_SHUFFLE_SHARDS = """
WITH h AS (SELECT doc_id,
                  md5('epoch0|' || CAST(doc_id AS VARCHAR)) AS digest
           FROM documents),
s AS (SELECT doc_id, digest,
             CAST(CAST(('0x' || substring(digest, 1, 8)) AS UBIGINT) % 7
                  AS BIGINT) AS shard
      FROM h)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY digest, CAST(doc_id AS VARCHAR))
            - 1 AS BIGINT) AS pos
FROM s
"""


# --------------------------------------------------------------------
# 32n. TF-IDF top terms (operators/curate.py tfidf_top_terms): top-3
#      salient terms per document by smooth TF-IDF (idf rounded to 6
#      decimals BEFORE the product so the double ranking key is
#      engine-portable; score ties break on term ascending).
# --------------------------------------------------------------------
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import tfidf_top_terms

    return tfidf_top_terms(
        T(spark, sf_dir, "documents"), k=3, min_df=2
    ).select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
        F.col("rank").cast("int").alias("rank"),
    )


_SQL_TFIDF = """
WITH tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY term HAVING count(*) >= 2),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             tf.tf * round(ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0, 6)
               AS score,
             tf.tf * CAST(round(round(ln((n.n + 1.0) / (dfq.df + 1.0))
                                      + 1.0, 6) * 1000000.0, 0) AS BIGINT)
               AS m
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT doc_id, term, tf, df, score, m,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM s)
SELECT doc_id, term, tf, df, ((m + 50) // 100) / 10000.0 AS tfidf,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32m. CROSS-corpus line dedup (operators/curate.py dedup_lines): the
#      CCNet/RefinedWeb boilerplate-line pass.  The synthetic corpus is
#      single-line, so the query first derives a line-structured column
#      (every space in the first 80 chars becomes a newline — identical
#      substring+replace on both engines); single-word lines repeat
#      heavily across documents, so the >= 20-distinct-docs blocklist
#      genuinely fires.  keep_first=True exercises the witness
#      convention (each blocked line survives only in its min-id doc).
# --------------------------------------------------------------------
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import dedup_lines

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 80), " ", "\n").alias("text"),
    )
    return dedup_lines(d, min_docs=20, keep_first=True)


_SQL_DEDUP_LINES = """
WITH d AS (SELECT doc_id,
                  replace(substring(text, 1, 80), ' ', chr(10)) AS text
           FROM documents),
raw AS (SELECT doc_id,
               list_transform(string_split(coalesce(text, ''), chr(10)),
                              x -> trim(x)) AS ls
        FROM d),
l AS (SELECT doc_id, line, idx FROM (
        SELECT doc_id, unnest(ls) AS line,
               unnest(range(len(ls))) AS idx
        FROM raw)
      WHERE line IS NOT NULL AND line <> ''),
freq AS (SELECT line, count(DISTINCT doc_id) AS df,
                min(doc_id) AS first_doc
         FROM l GROUP BY line),
blk AS (SELECT line, first_doc FROM freq WHERE df >= 20),
j AS (SELECT l.doc_id, l.idx, l.line,
             (b.line IS NULL OR l.doc_id = b.first_doc) AS survives
      FROM l LEFT JOIN blk b USING (line)),
asm AS (SELECT doc_id,
               string_agg(CASE WHEN survives THEN line END, chr(10)
                          ORDER BY idx) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines_in,
               CAST(count(CASE WHEN survives THEN 1 END) AS BIGINT)
                 AS n_lines_kept
        FROM j GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_lines_in, 0) AS n_lines_in,
       coalesce(a.n_lines_kept, 0) AS n_lines_kept
FROM documents d LEFT JOIN asm a USING (doc_id)
"""


# --------------------------------------------------------------------
# 32o. LM perplexity scoring (operators/curate.py lm_score): the
#      CCNet perplexity-filter stage — corpus-trained bigram LM with
#      add-1/2 smoothing, per-doc average negative log-likelihood,
#      head/middle/tail banding at explicit cutoffs.  The oracle
#      replays the exact determinism ladder: round-6 per-addend ln,
#      round-4 mean, ppl/band computed FROM the rounded mean.
# --------------------------------------------------------------------
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import lm_score

    return lm_score(
        T(spark, sf_dir, "documents"), cutoffs=(3.4, 3.5)
    ).select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "avg_nll",
        "ppl",
        "band",
    )


_SQL_LM_PPL = """
WITH tok AS (SELECT doc_id, unnest({toks}) AS w,
                    generate_subscripts({toks}, 1) AS pos
             FROM documents),
bg AS (SELECT doc_id, w AS w1,
              lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       FROM tok),
bgf AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bgf GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS v FROM tok),
sc AS (SELECT b.doc_id,
              CAST(round(-ln((coalesce(c2.c2, 0) + 0.5)
                             / (coalesce(c1.c1, 0) + 0.5 * v.v))
                         * 1000000.0, 0) AS BIGINT) AS nllm
       FROM bgf b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
       CROSS JOIN v),
-- per-doc NLL sum in exact integer micro units; 4-decimal mean by
-- integer division (half away from zero) — mirrors the Spark side,
-- where float rounding at the .00005 boundary differed across engines
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               ((2 * CAST(sum(nllm) AS BIGINT) + 100 * count(*))
                // (200 * count(*))) / 10000.0 AS avg_nll
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_bigrams, avg_nll,
       round(exp(avg_nll), 4) AS ppl,
       CASE WHEN avg_nll <= 3.4 THEN 'head'
            WHEN avg_nll <= 3.5 THEN 'middle'
            ELSE 'tail' END AS band
FROM agg
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32p. BM25 lexical retrieval (operators/similarity.py bm25_topk):
#      rank documents against a fixed query set — the lexical
#      complement of the embedding ANN tiers, used for targeted
#      pretraining-data selection.  The oracle replays the scoring
#      arithmetic op-for-op (same association order) with the idf ln
#      rounded to 6 and the per-pair sum rounded to 4 before ranking.
# --------------------------------------------------------------------
_BM25_QUERIES = [
    (0, "hash join merge"),
    (1, "window sort order"),
    (2, "customer query stream"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.similarity import bm25_topk

    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, query_text string")
    # persist_index: the postings table feeds both the df aggregate and
    # the query match — one corpus tokenize instead of two (the
    # inverted-index cut; headline-benched, released by bench.py's
    # per-query caching.release_all)
    return bm25_topk(
        T(spark, sf_dir, "documents"), q, top_n=5, persist_index=True
    ).select(
        "query_id",
        "doc_id",
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def _sql_bm25(k1: str, b: str, top_n: int) -> str:
    """Okapi BM25 oracle body over `documents` against _BM25_QUERIES.
    ``k1``/``b`` are decimal STRINGS so the SQL literal is the same
    IEEE double Spark's F.lit builds; association order mirrors
    operators/similarity.bm25_topk op-for-op."""
    # toks and tf are MATERIALIZED: each has two consumers, and DuckDB
    # inlines plain CTEs, so without the hint the corpus-wide regex
    # tokenize (toks) and the token-stream aggregate (tf) run once per
    # consumer — the rrf_hybrid oracle embeds TWO bm25 bodies, and at
    # sf100 the 4-6 re-derived corpus chains spilled >200 GB of DuckDB
    # temp and exhausted the disk.  (Same class of fix as _SQL_DSIR's
    # feat.)
    return """
WITH toks AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (SELECT * FROM (VALUES (0, 'hash join merge'), (1, 'window sort order'),
                            (2, 'customer query stream')) AS t(query_id, qtext)),
qt AS (SELECT DISTINCT query_id, unnest({qtoks}) AS term FROM q),
m AS (SELECT qt.query_id, tf.doc_id,
             CAST(round((round(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)), 6)
                         * tf.tf * ({k1} + 1.0)
                         / (tf.tf + {k1} * ((1.0 - {b})
                            + ({b} * d.dl) / (CAST(s.sdl AS DOUBLE) / s.n))))
                        * 1000000.0, 0) AS BIGINT) AS partm
      FROM qt JOIN tf USING (term) JOIN dfq USING (term)
      JOIN dl d ON tf.doc_id = d.doc_id CROSS JOIN stats s),
-- per-pair sum in exact integer micro units; 4-decimal score by
-- integer division (mirrors the Spark side's determinism ladder)
sc AS (SELECT query_id, doc_id,
              ((CAST(sum(partm) AS BIGINT) + 50) // 100) / 10000.0 AS score
       FROM m GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {top_n}
""".format(
        toks=_WORD_TOKS.format(c="text"),
        qtoks=_WORD_TOKS.format(c="qtext"),
        k1=k1,
        b=b,
        top_n=top_n,
    )


_SQL_BM25 = _sql_bm25("1.2", "0.75", 5)


# --------------------------------------------------------------------
# 32u. BPE tokenizer tier (functions/bpe.py): learn merges on a
#      deterministic sample, tokenize distributed; n_bpe_tokens is the
#      real packing/budgeting count.  No oracle by design (iterative
#      greedy merges are not SQL-replayable); pytest pins learn/apply
#      against a pure-python reference and the word_tokens lockstep.
# --------------------------------------------------------------------
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.bpe import apply_bpe, learn_bpe

    _ensure_pyfiles(spark)  # pandas UDF closure imports the package on executors
    docs = T(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=100, sample_docs=500)
    return apply_bpe(docs, merges)


# --------------------------------------------------------------------
# 32t. Learned quality classifier (operators/classifier.py): distill
#      the Gopher heuristic gate into a pyspark.ml logistic scorer and
#      score the corpus — the FineWeb-Edu pattern.  No oracle by
#      design (model weights are not SQL-replayable); pytest pins
#      held-out AUC, refit stability, and the row contract.
# --------------------------------------------------------------------
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.classifier import (
        apply_quality_classifier,
        train_quality_classifier,
    )

    docs = T(spark, sf_dir, "documents")
    # min_stopwords=1: the synthetic vocabulary carries one distinct
    # Gopher stopword, so the default gate is single-class here
    model = train_quality_classifier(docs, gopher_kwargs={"min_stopwords": 1})
    return apply_quality_classifier(docs, model)


# --------------------------------------------------------------------
# 32s. Hybrid reciprocal-rank fusion (operators/similarity.py
#      rrf_fuse): ensemble two retrievers' per-query rankings — here
#      two BM25 regimes (standard 1.2/0.75 vs length-norm-free
#      2.0/0.0, which genuinely reorder) — by sum of 1/(60+rank).
#      The two member rankings come from bm25_topk_grid: ONE postings
#      build + ONE matched-score aggregate for the whole ensemble
#      (each param_id slice is pinned row-identical to bm25_topk),
#      fed to rrf_fuse in its pre-unioned long form.
# --------------------------------------------------------------------
def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.similarity import bm25_topk_grid, rrf_fuse

    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, query_text string")
    docs = T(spark, sf_dir, "documents")
    grid = bm25_topk_grid(docs, q, params=[(1.2, 0.75), (2.0, 0.0)], top_n=10)
    return rrf_fuse(grid, top_n=5).select(
        "query_id",
        "doc_id",
        "rrf_score",
        F.col("n_lists").cast("long").alias("n_lists"),
        F.col("rank").cast("int").alias("rank"),
    )


_SQL_RRF = """
WITH a AS ({bm25_a}),
bq AS ({bm25_b}),
u AS (SELECT query_id, doc_id,
             CAST(round(round(1.0 / (60.0 + rank), 6) * 1000000.0, 0) AS BIGINT) AS rrm
      FROM a
      UNION ALL
      SELECT query_id, doc_id,
             CAST(round(round(1.0 / (60.0 + rank), 6) * 1000000.0, 0) AS BIGINT) AS rrm
      FROM bq),
f AS (SELECT query_id, doc_id,
             ((CAST(sum(rrm) AS BIGINT) + 50) // 100) / 10000.0 AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM u GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, rrf_score, n_lists,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, n_lists DESC,
                                         doc_id) AS rank
      FROM f)
SELECT query_id, doc_id, rrf_score, n_lists, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
""".format(bm25_a=_sql_bm25("1.2", "0.75", 10), bm25_b=_sql_bm25("2.0", "0.0", 10))


# --------------------------------------------------------------------
# 32q. DSIR importance weights (operators/curate.py dsir_weights):
#      hashed-bigram importance resampling weights — target = the
#      corpus's English slice, raw = the whole corpus, so log_w
#      upweights documents whose hashed bigrams look English.  The
#      oracle replays the md5 bucket arithmetic and the round-6
#      per-bucket ln difference / round-4 per-doc sum exactly.
# --------------------------------------------------------------------
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import dsir_weights

    d = T(spark, sf_dir, "documents")
    return dsir_weights(d, d.where(F.col("lang") == "en"), n_buckets=512)


_SQL_DSIR = """
WITH tok AS (SELECT doc_id, lang, unnest({toks}) AS w,
                    generate_subscripts({toks}, 1) AS pos
             FROM documents),
bg AS (SELECT doc_id, lang, w AS w1,
              lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       FROM tok),
-- MATERIALIZED: feat has four consumers (ct, cr, ns twice via
-- subqueries, per); DuckDB inlines plain CTEs, so without the hint
-- the 9-figure-row tokenize->window->md5 chain above runs once PER
-- CONSUMER — at sf100 that spilled >200 GB and exhausted the disk.
-- The materialized table is just (doc_id, lang, bucket).
feat AS MATERIALIZED (SELECT doc_id, lang,
                CAST(CAST(('0x' || substring(md5(w1 || '|' || w2), 1, 8))
                          AS UBIGINT) % 512 AS BIGINT) AS bucket
         FROM bg WHERE w2 IS NOT NULL),
ct AS (SELECT bucket, count(*) AS ct FROM feat WHERE lang = 'en'
       GROUP BY bucket),
cr AS (SELECT bucket, count(*) AS cr FROM feat GROUP BY bucket),
ns AS (SELECT (SELECT count(*) FROM feat WHERE lang = 'en') AS nt,
              (SELECT count(*) FROM feat) AS nr),
ratio AS (SELECT bucket,
                 CAST(round((round(ln((coalesce(ct, 0) + 0.5)
                                      / (ns.nt + 0.5 * 512)), 6)
                             - round(ln((coalesce(cr, 0) + 0.5)
                                        / (ns.nr + 0.5 * 512)), 6))
                            * 1000000.0, 0) AS BIGINT)
                   AS lrm
          FROM cr FULL OUTER JOIN ct USING (bucket) CROSS JOIN ns),
per AS (SELECT f.doc_id, f.bucket, count(*) AS c
        FROM feat f GROUP BY f.doc_id, f.bucket),
agg0 AS (SELECT per.doc_id, CAST(sum(per.c) AS BIGINT) AS n_feats,
                CAST(sum(per.c * r.lrm) AS BIGINT) AS m
         FROM per JOIN ratio r USING (bucket) GROUP BY per.doc_id),
-- final 4-decimal rounding in INTEGER micro arithmetic (half away
-- from zero), mirroring the Spark side: float rounding at the exact
-- .00005 boundary differs between engines
agg AS (SELECT doc_id, n_feats,
               (CASE WHEN m < 0 THEN -((abs(m) + 50) // 100)
                     ELSE (abs(m) + 50) // 100 END) / 10000.0 AS log_w
        FROM agg0)
SELECT d.doc_id,
       CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
       coalesce(a.log_w, 0.0) AS log_w
FROM documents d
LEFT JOIN agg a ON d.doc_id IS NOT DISTINCT FROM a.doc_id
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32r. Exact-substring passage scrub (operators/dedup.py
#      scrub_passages): the removal half of the Lee et al. duplicated-
#      passage tier — every word 5-gram shared by >= 2 documents is
#      cut from all but its min-id witness document.  Pure string and
#      integer arithmetic, so the oracle needs no float ladder; the
#      DuckDB side replays the window positions, the witness rule, and
#      the covered-token filter with list lambdas.
# --------------------------------------------------------------------
def q_scrub_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.dedup import scrub_passages

    return scrub_passages(T(spark, sf_dir, "documents"), n=5, min_docs=2)


def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disjoint train/val/test assignment
    (operators/curate.split_corpus) — 80/10/10 bands over the same
    md5-threshold hash hash_sample uses."""
    from ocr_project_spark.operators.curate import split_corpus

    return split_corpus(
        T(spark, sf_dir, "documents").select("doc_id", "lang"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="r5",
    )


_SQL_SPLIT_CORPUS = """
SELECT doc_id, lang,
       CASE WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t80}' THEN 'train'
            WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t90}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""".format(
    t80=format(int(0.8 * 16**8), "08x"),
    t90=format(int(0.9 * 16**8), "08x"),
)


def q_window_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided token-window chunking (operators/pack.window_documents)
    at window=20/stride=15 — small enough that the ~50-token synthetic
    documents emit multiple overlapping windows each."""
    from ocr_project_spark.operators.pack import window_documents

    return window_documents(
        T(spark, sf_dir, "documents"), window=20, stride=15
    )


_SQL_WINDOW_DOCS = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), w AS (
  SELECT doc_id, toks, len(toks) AS n,
         1 + greatest(0, CAST(ceil((len(toks) - 20) / 15.0) AS BIGINT)) AS n_win
  FROM t
), e AS (
  -- generate_series can't take a lateral column parameter in DuckDB;
  -- unnest(range(...)) is the per-row form
  SELECT doc_id, toks, n, unnest(range(0, n_win)) AS i FROM w
)
SELECT doc_id,
       i AS win_id,
       i * 15 AS start,
       array_to_string(toks[i*15+1 : i*15+20], ' ') AS text,
       least(20, greatest(0, n - i*15)) AS n_tokens
FROM e
""".format(toks=_WORD_TOKS.format(c="text"))


def q_scrub_passages_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse-duplication tier of the same operator: flagged
    vocabulary + blocked-starts broadcast, so the window stream and
    the token arrays never shuffle (only the global flag aggregate
    does).  Same output contract and oracle as scrub_passages — the
    hint is a pure plan change, pinned identical in
    test_scrub_passages_broadcast_artifacts_identical."""
    from ocr_project_spark.operators.dedup import scrub_passages

    return scrub_passages(
        T(spark, sf_dir, "documents"), n=5, min_docs=2,
        broadcast_artifacts=True,
    )


_SQL_SCRUB_PASSAGES = """
WITH t AS (SELECT doc_id, {toks} AS t FROM documents),
win AS (SELECT doc_id, u.i - 1 AS pos,
               array_to_string(t[u.i : u.i + 4], ' ') AS passage
        FROM t, UNNEST(CASE WHEN len(t) >= 5
                       THEN generate_series(1, len(t) - 4)
                       ELSE [] END) AS u(i)),
flag AS (SELECT passage, min(doc_id) AS min_doc_id
         FROM (SELECT DISTINCT doc_id, passage FROM win)
         GROUP BY passage HAVING count(*) >= 2),
blocked AS (SELECT w.doc_id, w.pos FROM win w JOIN flag f USING (passage)
            WHERE w.doc_id IS DISTINCT FROM f.min_doc_id),
starts AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ss
           FROM blocked GROUP BY doc_id),
kept AS (SELECT t.doc_id, t.t,
                list_filter(t.t, (x, i) -> NOT coalesce(list_bool_or(
                  list_transform(coalesce(s.ss, []),
                                 st -> i - 1 >= st AND i - 1 < st + 5)),
                  false)) AS k
         FROM t LEFT JOIN starts s
           ON t.doc_id IS NOT DISTINCT FROM s.doc_id)
SELECT doc_id, coalesce(array_to_string(k, ' '), '') AS clean_text,
       CAST(len(t) AS BIGINT) AS n_tokens_in,
       CAST(len(k) AS BIGINT) AS n_tokens_kept
FROM kept
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32t. Per-source frequency cap (operators/curate.py cap_per_source):
#      keep at most N documents per source via the deterministic
#      salted-hash lottery — the C4/CCNet per-domain over-
#      representation guard.  Pure hash + window arithmetic, oracle
#      replays the (md5, id) rank order exactly.
# --------------------------------------------------------------------
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import cap_per_source

    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_source(d, cap=10, salt="cap").select(
        "doc_id", "source", F.col("keep_rank").cast("int").alias("keep_rank")
    )


_SQL_SOURCE_CAP = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS keep_rank
  FROM documents
)
SELECT doc_id, source, CAST(keep_rank AS INT) AS keep_rank
FROM r WHERE keep_rank <= 10
"""


_SQL_MIX_CORPUS = """
WITH c AS (SELECT lang AS d, count(*) AS n FROM documents GROUP BY lang),
w AS (SELECT d, CAST(w AS DOUBLE) AS w FROM (VALUES
        ('en', 0.4), ('de', 0.2), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)
      ) AS t(d, w)),
s AS (SELECT min(n / w) AS s FROM c JOIN w USING (d)),
r AS (SELECT d, CASE WHEN w * s.s / n > 1.0 THEN 1.0 ELSE w * s.s / n END AS rate
      FROM c JOIN w USING (d) CROSS JOIN s)
SELECT doc_id, lang
FROM documents JOIN r ON lang = r.d
WHERE rate >= 1.0
   OR substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)
      < printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
"""


# --------------------------------------------------------------------
# 32f. Intra-document repetition metrics (operators/curate.py): the
#      Gopher-rule repetition signal over word bigrams — per doc the
#      n-gram slot counts plus dup/top fractions (rounded 3 on both
#      engines).  The decontaminate query below keeps the BENCHMARK as
#      the fixed small slice (doc_id < 20) and the corpus as the side
#      that grows with sf — the broadcast-benchmark scale shape.
# --------------------------------------------------------------------
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import repetition_stats

    return repetition_stats(T(spark, sf_dir, "documents"), n=2)


_SQL_REPETITION = """
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
     g AS (SELECT doc_id,
                  unnest(CASE WHEN len(toks) >= 2 THEN
                    list_transform(generate_series(0, len(toks)-2),
                      i -> array_to_string(list_slice(toks, i+1, i+2), ' '))
                  ELSE [] END) AS g
           FROM d),
     per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
     s AS (SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS n_grams,
                  CAST(count(*) AS BIGINT) AS distinct_grams,
                  CAST(max(c) AS BIGINT) AS top_gram_n
           FROM per GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(n_grams, 0) AS n_grams,
       COALESCE(distinct_grams, 0) AS distinct_grams,
       COALESCE(top_gram_n, 0) AS top_gram_n,
       -- 3-decimal fracs by integer division (half away from zero),
       -- mirroring the Spark side: a ratio exactly on the .0005 grid
       -- rounds differently between engines as a float
       CASE WHEN COALESCE(n_grams, 0) > 0
            THEN ((2000 * (n_grams - distinct_grams) + n_grams)
                  // (2 * n_grams)) / 1000.0
            ELSE 0.0 END AS dup_gram_frac,
       CASE WHEN COALESCE(n_grams, 0) > 0
            THEN ((2000 * top_gram_n + n_grams) // (2 * n_grams)) / 1000.0
            ELSE 0.0 END AS top_gram_frac
FROM (SELECT doc_id FROM documents) d
LEFT JOIN s USING (doc_id)
""".format(toks=_WORD_TOKS.format(c="text"))


# --------------------------------------------------------------------
# 32e. Benchmark decontamination (operators/curate.py): distinct
#      3-gram overlap between each corpus document and a held-out
#      pseudo-benchmark slice (doc_id < 20 — FIXED small side, so the
#      corpus is what grows with sf: the broadcast-benchmark scale
#      shape), contaminated when >= 2 shingles hit (measured sf0.01
#      split: 265 true / 215 false, so both flag values appear).
# --------------------------------------------------------------------
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.curate import decontaminate

    d = T(spark, sf_dir, "documents")
    return decontaminate(
        d.where(F.col("doc_id") >= 20),
        d.where(F.col("doc_id") < 20),
        n=3,
        min_hits=2,
    )


_SQL_SHINGLES3 = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_distinct(list_transform(generate_series(0, len({t})-3), "
    "i -> array_to_string(list_slice({t}, i+1, i+3), ' '))) "
    "ELSE [array_to_string({t}, ' ')] END"
)

_SQL_DECONTAMINATE = """
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id >= 20),
     bt AS (SELECT {toks} AS toks FROM documents WHERE doc_id < 20),
     ds AS (SELECT doc_id, unnest({sh_d}) AS s FROM d),
     bs AS (SELECT DISTINCT unnest({sh_b}) AS s FROM bt),
     h AS (SELECT doc_id, count(*) AS bench_hits
           FROM (SELECT * FROM ds WHERE s <> '') dd
           JOIN (SELECT * FROM bs WHERE s <> '') bb USING (s)
           GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(h.bench_hits, 0) AS bench_hits,
       COALESCE(h.bench_hits, 0) >= 2 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN h USING (doc_id)
""".format(
    toks=_WORD_TOKS.format(c="text"),
    sh_d=_SQL_SHINGLES3.format(t="toks"),
    sh_b=_SQL_SHINGLES3.format(t="toks"),
)


_SQL_CURATE = """
WITH base AS (
  SELECT doc_id, {ws} AS ws, {wd} AS wd FROM documents WHERE doc_id < 2000
), scored AS (
  SELECT doc_id, wd,
    round(0.30*least(1.0, len(ws)/100.0)
        + 0.25*(CASE WHEN len(ws)>0 THEN len(list_distinct(ws))*1.0/len(ws) ELSE 0.0 END)
        + 0.25*(CASE WHEN len(ws)>0 THEN
            len(list_filter(ws, x -> regexp_full_match(x, '[A-Za-z0-9]+')))*1.0/len(ws)
            ELSE 0.0 END)
        + 0.20*(1.0 - CASE WHEN len(ws)>0 THEN
            len(list_filter(ws, x -> x = 'a'))*1.0/len(ws) ELSE 0.0 END), 3) AS quality,
    CASE WHEN len(wd) > 0 AND
      len(list_filter(wd, x -> list_contains(
        ['the','a','an','of','and','to','in','is','it','for'], x))) * 1.0
        / len(wd) >= 0.05
    THEN 'en' ELSE 'unk' END AS lang_guess
  FROM base
), surv AS (
  SELECT * FROM scored WHERE quality >= 0.7 AND lang_guess = 'en'
), grp AS (
  SELECT doc_id, wd, md5(array_to_string(wd, ' ')) AS h FROM surv
), keep AS (
  SELECT h, min(doc_id) AS keeper FROM grp GROUP BY h
), exact AS (
  SELECT g.doc_id, k.keeper, g.wd FROM grp g JOIN keep k USING (h)
), keepers AS (
  SELECT doc_id, wd FROM exact WHERE doc_id = keeper
), h2 AS (
  SELECT doc_id, list_transform(list_distinct(wd), x -> md5(x)) AS hs0,
         list_transform(list_distinct(wd), x -> md5('1|' || x)) AS hs1
  FROM keepers
), s AS (
  SELECT doc_id, concat({bits}) AS sig FROM h2
), nd AS (
  SELECT a.doc_id AS doc_id, min(b.doc_id) AS w_near
  FROM s a JOIN s b ON b.doc_id < a.doc_id
  WHERE ({ham}) <= 3 GROUP BY a.doc_id
), ed AS (
  SELECT doc_id, keeper AS w_exact FROM exact WHERE doc_id <> keeper
)
SELECT sc.doc_id,
  CASE WHEN sc.quality < 0.7 THEN 'low_quality'
       WHEN sc.lang_guess <> 'en' THEN 'lang'
       WHEN ed.w_exact IS NOT NULL THEN 'exact_dup'
       WHEN nd.w_near IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS disposition,
  coalesce(ed.w_exact, nd.w_near) AS witness_id,
  sc.quality, sc.lang_guess
FROM scored sc LEFT JOIN ed USING (doc_id) LEFT JOIN nd USING (doc_id)
""".format(
    ws=_WS_TOKS.format(c="text"),
    wd=_WORD_TOKS.format(c="text"),
    bits=", ".join(_simhash64_bit_sql(b) for b in range(64)),
    ham=" + ".join(
        f"CASE WHEN substring(a.sig, {i + 1}, 1) <> substring(b.sig, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(64)
    ),
)


# --------------------------------------------------------------------
# 33. Exact percentiles per group (C16 median analog at corpus scale)
# --------------------------------------------------------------------
def q_len_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    q = F.percentile(F.col("n_chars"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return d.groupBy("lang").agg(
        F.round(F.element_at(q, 1), 4).alias("p50"),
        F.round(F.element_at(q, 2), 4).alias("p90"),
        F.round(F.element_at(q, 3), 4).alias("p99"),
    )


_SQL_LEN_PCT = """
SELECT lang, round(q[1], 4) AS p50, round(q[2], 4) AS p90, round(q[3], 4) AS p99
FROM (SELECT lang, quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS q
      FROM documents GROUP BY lang) t
"""


# --------------------------------------------------------------------
# 35. Hourly rollup over events (tumbling-window batch analog of the
#     streaming aggregation; Structured Streaming runs the same plan)
# --------------------------------------------------------------------
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


_SQL_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# 36. The span-domain flagship on the synthetic interleaved corpus —
#     the BASELINE.json contract pipeline itself, exploded flat so the
#     driver can hash it.  No SQL oracle (the corpus generator is
#     Python); pytest covers exact span-sequence equality vs oracle.py.
# --------------------------------------------------------------------
def q_span_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark import schema as SCH
    from ocr_project_spark.operators.extract import extract
    from ocr_project_spark.sources.generate import generate_corpus

    docs, cands = generate_corpus(n_docs=120, base_seed=42)
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        SCH.DOCUMENTS_SPANS,
    )
    cands_df = spark.createDataFrame(
        [
            (c["doc_id"], c["offset"], c["engine"], c["text"], c["confidence"])
            for c in cands
        ],
        SCH.MEDIA_CANDIDATES,
    )
    out = extract(docs_df, cands_df)
    # explode_outer + isNotNull, not plain explode: see _spans_out_flat
    return (
        out.select("doc_id", F.explode_outer("spans").alias("s"))
        .where(F.col("s").isNotNull())
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.order").alias("ord"),
        )
    )


# --------------------------------------------------------------------
# 39. Multimodal decode plumbing over derived binary payloads
#     (operators/media.py; rows-only — the fake-decode kernel is
#     Python-side, pytest covers its determinism and error capture)
# --------------------------------------------------------------------
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.media import decode_media

    _ensure_pyfiles(spark)

    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    media = d.select(
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    return decode_media(media)


# --------------------------------------------------------------------
# 39b. Media byte-feature extraction (the multimodal embedding stand-in,
#      operators/media.py) oracle-checked: payloads are the utf-8 bytes
#      of documents.text (pure ASCII in the testdata), so the
#      high-nibble histogram entropy and mean byte are SQL-expressible.
# --------------------------------------------------------------------
def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.media import media_features

    _ensure_pyfiles(spark)
    d = T(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 300) & (F.length("text") > 0)
    )
    media = d.select(
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    f = media_features(media)
    return f.select(
        "media_ref",
        F.round("byte_entropy", 3).alias("byte_entropy"),
        F.round("mean_byte", 3).alias("mean_byte"),
    )


_SQL_MEDIA_BYTE_STATS = """
WITH t AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300 AND length(text) > 0
), b AS (
  SELECT doc_id, ord(substring(text, i, 1)) AS byte
  FROM t, unnest(generate_series(1, length(text))) AS u(i)
), h AS (
  SELECT doc_id, byte // 16 AS bin, count(*) AS c FROM b GROUP BY 1, 2
), tot AS (
  SELECT doc_id, sum(c) AS n FROM h GROUP BY 1
), e AS (
  SELECT h.doc_id,
         -sum((c * 1.0 / n) * log2(c * 1.0 / n)) AS entropy
  FROM h JOIN tot USING (doc_id) GROUP BY h.doc_id
), m AS (
  SELECT doc_id, avg(byte * 1.0) AS mean_byte FROM b GROUP BY 1
)
SELECT 'media://' || CAST(doc_id AS varchar) AS media_ref,
       round(entropy, 3) AS byte_entropy,
       round(mean_byte, 3) AS mean_byte
FROM e JOIN m USING (doc_id)
"""


# --------------------------------------------------------------------
# 40. Normalization ladder (K4-K6 enhancement analog) over derived
#     dirty text — all three tiers as columns, pure regexp codegen.
# --------------------------------------------------------------------
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.functions.cleanup import (
        normalize_balanced,
        normalize_enhanced,
        normalize_minimal,
    )

    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    dirty = F.concat(
        F.col("text"),
        F.lit("  tail\t\tpart "),
        F.lit("\n\n\n\n"),
        F.lit("end!!!!"),
        F.lit(""),
        F.lit("​"),
        F.lit("ok"),
    )
    return d.select(
        "doc_id",
        normalize_minimal(dirty).alias("n_min"),
        normalize_balanced(dirty).alias("n_bal"),
        normalize_enhanced(dirty).alias("n_enh"),
    )


_SQL_NORMALIZE = r"""
WITH t AS (
  SELECT doc_id,
         text || '  tail' || chr(9) || chr(9) || 'part ' ||
         repeat(chr(10), 4) || 'end!!!!' || chr(7) || chr(8203) || 'ok' AS dirty
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
  regexp_replace(regexp_replace(dirty, '[ \t]+', ' ', 'g'),
                 '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS n_min,
  regexp_replace(regexp_replace(
    regexp_replace(
      regexp_replace(dirty, '[\x00-\x08\x0b-\x1f]', '', 'g'),
      '\n{3,}', chr(10) || chr(10), 'g'),
    '[ \t]+', ' ', 'g'),
    '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS n_bal,
  regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(
      regexp_replace(
            regexp_replace(dirty, '[' || chr(65533) || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g'),
        '[\x00-\x08\x0b-\x1f]', '', 'g'),
      '\n{3,}', chr(10) || chr(10), 'g'),
            '!{3,}', '!!', 'g'), '\?{3,}', '??', 'g'), '\.{3,}', '..', 'g'),
            ',{3,}', ',,', 'g'), ';{3,}', ';;', 'g'), ':{3,}', '::', 'g'),
    '[ \t]+', ' ', 'g'),
    '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g') AS n_enh
FROM t
"""


# --------------------------------------------------------------------
# 41. As-of join (union-and-fill, one shuffle — operators/asof.py)
#     clicks matched to each user's most recent prior purchase;
#     DuckDB's native ASOF JOIN is the oracle.
# --------------------------------------------------------------------
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id",
                    right_cols=["purchase_value"])
    return out.select(
        "event_id", "user_id",
        F.round("purchase_value_r", 4).alias("last_purchase_value"),
    )


_SQL_ASOF = """
SELECT c.event_id, c.user_id,
       round(p.value, 4) AS last_purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# --------------------------------------------------------------------
# 42. Interval (range) join via bucket equi-join (operators/asof.py)
# --------------------------------------------------------------------
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.asof import interval_join

    ev = T(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    hours = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .distinct()
        .where(F.pmod(F.unix_timestamp("h") / 3600, F.lit(3)).cast("int") == 0)
    )
    ranges = hours.select(
        F.col("h").alias("wstart"),
        F.timestamp_seconds(F.unix_timestamp("h") + 7200).alias("wend"),
    )
    out = interval_join(ev.select("event_id", "ts"), ranges,
                        ts_col="ts", start_col="wstart", end_col="wend")
    return out.select("event_id", "wstart")


_SQL_INTERVAL = """
WITH r AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
  WHERE (CAST(epoch(date_trunc('hour', ts)) AS bigint) / 3600) % 3 = 0
), rr AS (
  SELECT h AS wstart, h + INTERVAL 2 HOUR AS wend FROM r
)
SELECT e.event_id, rr.wstart
FROM events e JOIN rr ON rr.wstart <= e.ts AND e.ts < rr.wend
"""


# --------------------------------------------------------------------
# 43. IVF ANN probe (coarse k-means quantizer -> partition-pruned
#     refine; operators/similarity.py).  Rows-only: k-means is not
#     SQL-expressible; pytest checks determinism + recall vs brute force.
# --------------------------------------------------------------------
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    assigned, centroids = SIM.ivf_build(emb.where(F.col("vec_id") != 0), n_centroids=8)
    res = SIM.ivf_topk(assigned, centroids, qvec, k=5, n_probe=4)
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


# IVF with n_probe = n_centroids is exhaustive, hence EXACT — the same
# machinery (k-means build, cluster pruning filter, refine top-k) runs
# fully oracle-checked against the brute-force cosine SQL; the
# approximate tier above stays rows-only with a pytest recall bound.
def q_ivf_exhaustive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    assigned, centroids = SIM.ivf_build(emb.where(F.col("vec_id") != 0), n_centroids=8)
    res = SIM.ivf_topk(assigned, centroids, qvec, k=5, n_probe=8)
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


# --------------------------------------------------------------------
# 48. JSON extraction over the events props column (map/JSON metadata
#     handling, the metadata-dict analog of C13)
# --------------------------------------------------------------------
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # k_avg rounded to 3 decimals on both sides: float round boundaries
    # between Spark and DuckDB differ at the 4th decimal (the round-1
    # driver hash-fail), so aggregates of ratios pin to 3.
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_total"),
        F.round(F.avg(k), 3).alias("k_avg"),
        F.count(F.when(k.isNull(), 1)).alias("k_missing"),
    )


_SQL_PROPS_JSON = """
SELECT event_type,
       CAST(sum(CAST(props->>'k' AS bigint)) AS bigint) AS k_total,
       round(avg(CAST(props->>'k' AS bigint)), 3) AS k_avg,
       count(*) FILTER (props->>'k' IS NULL) AS k_missing
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------
# 49. Never-fail error-status rows: invalid docs surface as
#     status(ok=false, reason) rows with empty spans instead of being
#     dropped (reference pipeline.py:286-309, engine_manager.py:132-142
#     turn per-item exceptions into error results).  Deterministic
#     fault injection over the documents table, then extract() and a
#     per-reason rollup.
# --------------------------------------------------------------------
def q_error_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_project_spark.operators.extract import extract

    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    span_t = (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    good_span = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    bad_span = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(None).cast("int").alias("offset"),
        )
    )
    docs = d.select(
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast(span_t))
        .when(F.col("doc_id") % 13 == 0, bad_span)
        .otherwise(good_span)
        .alias("spans"),
    )
    out = extract(docs)
    return out.groupBy(
        F.col("status.ok").alias("ok"),
        F.coalesce(F.col("status.reason"), F.lit("none")).alias("reason"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.col("spans"))).alias("n_spans"),
    )


_SQL_ERROR_ROWS = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'null_doc_id'
              WHEN doc_id % 11 = 0 THEN 'null_spans'
              WHEN doc_id % 13 = 0 THEN 'malformed_span'
              ELSE 'none' END AS reason,
         len({toks}) AS ntok,
         len(list_filter({toks}, x -> x = '<a>')) AS nlink
  FROM documents WHERE doc_id < 500
)
SELECT reason = 'none' AS ok, reason,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN reason = 'none' AND ntok >= 8
                          AND nlink * 1.0 / ntok < 0.4
                     THEN 1 ELSE 0 END) AS bigint) AS n_spans
FROM t GROUP BY 1, 2
""".format(toks=_WS_TOKS.format(c="text"))


# --------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------
@dataclass(frozen=True)
class Query:
    """One catalogued query: ``build(spark, sf_dir) -> DataFrame``, the
    DuckDB SQL that must return the same rows (None where the output is
    not SQL-replayable) and whether it is one of the driver's rows."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    driver: bool = False

    @property
    def name(self) -> str:
        return self.build.__name__.removeprefix("q_")


# Insertion-ordered: the driver samples the first 50 entries, so the 50
# driver rows come first.  Every other oracle-bearing query is still
# checked by tools/compare_oracle.py and tests/test_local_oracles.py.
QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        *(
            Query(build, oracle, driver=True)
            for build, oracle in [
                (q_scrub_passages_broadcast, _SQL_SCRUB_PASSAGES),
                (q_corpus_funnel, _SQL_CORPUS_FUNNEL),
                (q_duplicate_passages, _SQL_DUP_PASSAGES),
                (q_shuffle_shards, _SQL_SHUFFLE_SHARDS),
                (q_tfidf_top_terms, _SQL_TFIDF),
                (q_lm_perplexity, _SQL_LM_PPL),
                (q_bm25_topk, _SQL_BM25),
                (q_dsir_weights, _SQL_DSIR),
                (q_scrub_passages, _SQL_SCRUB_PASSAGES),
                (q_rrf_hybrid, _SQL_RRF),
                (q_semdedup, _SQL_SEMDEDUP),
                (q_mix_corpus, _SQL_MIX_CORPUS),
                (q_clean_lines, _SQL_CLEAN_LINES),
                (q_gopher_rules, _SQL_GOPHER_RULES),
                (q_scrub_pii, _SQL_SCRUB_PII),
                (q_source_cap, _SQL_SOURCE_CAP),
                (q_dedup_lines, _SQL_DEDUP_LINES),
                (q_knn_join, _SQL_KNN_JOIN),
                (q_decontaminate, _SQL_DECONTAMINATE),
                (q_hash_sample, _SQL_HASH_SAMPLE),
                (q_pack_sequences, _SQL_PACK),
                (q_repetition_stats, _SQL_REPETITION),
                (q_curate_corpus, _SQL_CURATE),
                (q_retry_routing, _SQL_RETRY),
                (q_engine_lang_filter, _SQL_ENGINE_LANG),
                (q_media_byte_stats, _SQL_MEDIA_BYTE_STATS),
                (q_ivf_exhaustive_topk, _SQL_COSINE_TOPK),
                (q_asof_join, _SQL_ASOF),
                (q_interval_join, _SQL_INTERVAL),
                (q_normalize_text, _SQL_NORMALIZE),
                (q_reading_order, _SQL_READING_ORDER),
                (q_text_profile, _SQL_TEXT_PROFILE),
                (q_extract_clean_spans, _SQL_EXTRACT),
                (q_window_docs, _SQL_WINDOW_DOCS),
                (q_fuse_candidates, _SQL_FUSE),
                (q_fusion_routing, _SQL_FUSION_ROUTING),
                (q_session_stats, _SQL_SESSION),
                (q_top1_per_group, _SQL_TOP1),
                (q_batch_stats, _SQL_BATCH_STATS),
                (q_consensus_boost, _SQL_CONSENSUS_BOOST),
                (q_left_join_fallback, _SQL_LEFT_JOIN),
                (q_exact_dedup, _SQL_EXACT_DEDUP),
                (q_dedup_then_extract, _SQL_DEDUP_EXTRACT),
                (q_minhash_lsh_pairs, _SQL_MINHASH),
                (q_ann_lsh_topk, _SQL_ANN_LSH),
                (q_quality_scores, _SQL_QUALITY),
                (q_strategy_routing, _SQL_STRATEGY),
                (q_xy_cut, _SQL_XY_CUT),
                (q_simhash64_pairs, _SQL_SIMHASH64_PAIRS),
                (q_embedding_near_dup, _SQL_EMB_NEAR_DUP),
            ]
        ),
        # Standalone forms of driver rows: ivf_exhaustive_topk runs
        # cosine_topk's oracle over a superset of its machinery;
        # reading_order emits gap_class; text_profile merges lang_id,
        # fingerprint and token_stats; pytest pins the chunked and
        # pandas extraction paths row-identical to extract_clean_spans.
        Query(q_cosine_topk, _SQL_COSINE_TOPK),
        Query(q_near_dup_pairs, _SQL_NEAR_DUP),
        Query(q_union_slices, _SQL_UNION),
        Query(q_boost_ladder, _SQL_BOOST),
        Query(q_jaccard_adjacent, _SQL_JACCARD_ADJ),
        Query(q_extract_chunked_spans, _SQL_EXTRACT_CHUNKED),
        Query(q_extract_pandas_spans, _SQL_EXTRACT_CHUNKED),
        Query(q_bucket_ladder, _SQL_BUCKET),
        Query(q_split_corpus, _SQL_SPLIT_CORPUS),
        Query(q_gap_class, _SQL_GAP_CLASS),
        Query(q_lang_id, _SQL_LANG),
        Query(q_fingerprint, _SQL_FINGERPRINT),
        Query(q_token_stats, _SQL_TOKEN_STATS),
        Query(q_minhash_sigs, _SQL_MINHASH_SIGS),
        Query(q_simhash_sigs, _SQL_SIMHASH_SIGS),
        Query(q_simhash_pairs, _SQL_SIMHASH_PAIRS),
        # ml model weights are not SQL-replayable; pytest pins AUC and
        # refit stability
        Query(q_quality_classifier, None),
        # iterative merges are not SQL-replayable; pytest pins them
        # against the Python reference
        Query(q_bpe_tokens, None),
        Query(q_span_pipeline, None),  # pytest-pinned
        Query(q_ivf_topk, None),  # approximate: recall-bounded in pytest
        Query(q_media_decode, None),  # pytest pins determinism
        Query(q_weighted_confidence, _SQL_WEIGHTED),
        Query(q_hourly_rollup, _SQL_HOURLY),
        Query(q_props_json, _SQL_PROPS_JSON),
        Query(q_error_rows, _SQL_ERROR_ROWS),
        Query(q_envelope, _SQL_ENVELOPE),
        Query(q_quality_delta, _SQL_QUALITY_DELTA),
        Query(q_distinct_tokens, _SQL_DISTINCT_TOKENS),
        Query(q_len_percentiles, _SQL_LEN_PCT),
    ]
}
