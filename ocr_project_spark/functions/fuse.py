"""Media-candidate fusion — the reference's multi-engine result merger
(/root/reference/src/advanced_ocr/core/engine_manager.py:219-312) as one
window pass + filter, entirely in built-in expressions.

Shape: input is the candidates table (doc_id, offset, engine, text,
confidence) — one row per (engine x media span), the columnar form of
the reference's ThreadPool fan-out dict (engine_manager.py:167-196).
One hash shuffle on (doc_id, offset) ranks candidates per span; the
best row (row_number == 1) carries the group's aggregates, so no second
shuffle and no self-join.

Semantics (constants in rules.py, matching the reference exactly):
  valid      = non-blank text AND conf > 0.1            (:238-239)
  winner     = best valid by (conf desc, engine priority asc); if none
               valid, best of failed by the same order   (:241-246, :262)
  consensus  = winner + every other *valid* row with conf > 0.7 and
               word-Jaccard(winner.text, text) > 0.8     (:272-279)
  fused conf = |consensus| > 1 and >= 2 valid:
                 min(1, avg(consensus conf) + min(0.05, 0.01*n))  (:281-287)
               else winner conf

Who reads what: the consensus and fused-confidence math serve only the
callers that read ``confidence``/``method``/``n_consensus`` —
``fuse_media_candidates`` itself, ``fuse_with_retry`` (its route reads
the fused confidence) and the harness queries.  Extraction reads only
the winner's text, so ``operators/extract.py`` builds its per-document
map from ``min_by(..., fusion_order_key())`` per span and runs none of
the window, Jaccard or consensus work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_project_spark import rules
from ocr_project_spark.functions.classify import jaccard_expr


def _engine_enabled(conf) -> bool:
    """One engine's enabled flag: bare bools (yaml ``rec_a: true``) and
    mapping form (``rec_a: {enabled: false}``) both accepted; anything
    else (None, unknown shapes) means enabled — matching fusion itself,
    which tolerates unknown engines (DEFAULT_PRIORITY)."""
    if isinstance(conf, bool):
        return conf
    if isinstance(conf, dict):
        return bool(conf.get("enabled", True))
    return True


def enabled_engines(cfg) -> list[str]:
    """Configured engines whose flag is on (reference engines.yaml
    enabled map, utils/config.py:84-96 + engine_manager availability
    checks at engine_manager.py:68-84).  Only lists engines that appear
    in the config — absence from this list does NOT mean disabled."""
    engines = (cfg.get("engines") if cfg is not None else None) or {}
    return sorted(n for n, conf in engines.items() if _engine_enabled(conf))


def disabled_engines(cfg) -> list[str]:
    """Engines the config explicitly turns off."""
    engines = (cfg.get("engines") if cfg is not None else None) or {}
    return sorted(n for n, conf in engines.items() if not _engine_enabled(conf))


def filter_enabled_candidates(cands: DataFrame, cfg) -> DataFrame:
    """F6/F7 availability filter: drop candidate rows from explicitly
    DISABLED engines before fusion — the batch analog of the reference
    never invoking a disabled engine.  Engines absent from the config
    map pass through: fusion tolerates unknown engines (priority
    DEFAULT_PRIORITY), so an isin-whitelist here would silently drop a
    real engine's data whenever the config enumerates fewer engines
    than the candidates table contains.  The NOT-isin predicate is
    config-sized, so it still pushes down to the candidate scan."""
    dis = disabled_engines(cfg)
    if not dis:
        return cands
    return cands.where(~F.col("engine").isin(dis) | F.col("engine").isNull())


def engine_languages(cfg) -> dict[str, list[str] | None]:
    """Per-engine supported-language lists from config (reference
    base_engine.py:43-82 ``get_supported_languages`` + the language
    lists in resources/engines.yaml).  None = engine supports every
    language (no ``languages`` key configured)."""
    engines = (cfg.get("engines") if cfg is not None else None) or {}
    out: dict[str, list[str] | None] = {}
    for name, conf in engines.items():
        langs = conf.get("languages") if isinstance(conf, dict) else None
        if isinstance(langs, str):
            # yaml scalar form `languages: en` — iterating the string
            # would yield ['e','n'] and silently drop every candidate
            langs = [langs]
        elif langs is not None and not isinstance(langs, (list, tuple, set)):
            # unintelligible shape (languages: true / 5 / ...): treat
            # as unconstrained, matching the module's
            # conservative-on-uncertainty convention (_engine_enabled
            # tolerates arbitrary config shapes the same way)
            langs = None
        out[name] = [str(x) for x in langs] if langs is not None else None
    return out


def filter_candidates_by_language(
    cands: DataFrame, doc_langs: DataFrame, cfg
) -> DataFrame:
    """Language-based candidate filter: drop a candidate row when the
    document's language guess is KNOWN and the candidate's engine
    explicitly does not list it (reference base_engine.py:43-82 — an
    engine only runs for languages it supports).  Conservative on
    uncertainty: engines with no configured ``languages`` list, docs
    with no/null language row, and unlisted engines all pass through —
    only provably-unsupported pairs are dropped, mirroring
    filter_enabled_candidates' only-drop-explicit semantics.

    ``doc_langs`` is (doc_id, lang_guess) — corpus language ID (e.g.
    functions.text.lang_guess).  The support predicate is a
    config-sized CASE over literals, evaluated after an equi-join on
    doc_id.  The join is pinned ``shuffle_hash`` for the same reason
    extract() pins its fused-map join: doc_langs is corpus-sized when
    derived from the corpus (doc_langs_from_spans), so an
    auto-broadcast — which local-scale size estimates WILL pick — is a
    serial build that is impossible at 10^12 docs; shuffling a
    genuinely small language table instead costs almost nothing, and
    over bucketed storage both sides arrive pre-hashed on doc_id so
    the join runs with zero Exchange (tests/test_bucketed.py)."""
    langs_by_engine = {
        n: ls for n, ls in engine_languages(cfg).items() if ls is not None
    }
    if not langs_by_engine:
        return cands
    cond = None
    for name, langs in sorted(langs_by_engine.items()):
        ok = F.col("_lang_guess").isNull() | F.col("_lang_guess").isin(langs)
        cond = (
            F.when(F.col("engine") == name, ok)
            if cond is None
            else cond.when(F.col("engine") == name, ok)
        )
    supported = cond.otherwise(F.lit(True))
    # one lang row per doc: an accidental duplicate in doc_langs would
    # otherwise fan candidate rows out through the left join and
    # inflate fusion's consensus counts downstream.  min(), not
    # dropDuplicates: an arbitrary pick from conflicting rows would
    # make the filter nondeterministic across replays — breaking the
    # checkpoint module's bucket-replay idempotency contract
    dl = doc_langs.groupBy(F.col("doc_id").alias("_lang_doc_id")).agg(
        F.min("lang_guess").alias("_lang_guess")
    )
    return (
        cands.join(
            dl.hint("shuffle_hash"),
            cands["doc_id"] == dl["_lang_doc_id"],
            "left",
        )
        .where(supported)
        .drop("_lang_doc_id", "_lang_guess")
    )


def doc_langs_from_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, lang_guess) for
    ``filter_candidates_by_language``: corpus language ID over the
    concatenated text spans (functions.text.lang_guess).  An 'unk'
    guess is emitted as NULL — the filter's conservative-on-uncertainty
    contract drops only KNOWN-unsupported languages, and 'unk' means
    the heuristic could not decide, not that the doc is in a language
    the engine lacks.

    Scale: a narrow projection of the docs table (no shuffle); joined
    against candidates it co-partitions on doc_id — over bucketed
    storage both sides arrive pre-hashed and the join stays
    exchange-free."""
    from ocr_project_spark.functions.text import lang_guess

    text = F.array_join(
        F.transform(
            F.coalesce(F.col("spans"), F.array()),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
        " ",
    )
    lg = lang_guess(text)
    return docs.select(
        "doc_id",
        F.when(lg == "unk", F.lit(None).cast("string"))
        .otherwise(lg)
        .alias("lang_guess"),
    )


def priority_expr(engine: Column) -> Column:
    """Engine tie-break priority (rules.ENGINE_PRIORITY), small = wins."""
    mapping = F.create_map(
        *[F.lit(x) for kv in rules.ENGINE_PRIORITY.items() for x in kv]
    )
    return F.coalesce(mapping[engine], F.lit(rules.DEFAULT_PRIORITY))


def valid_expr(text: Column, conf: Column) -> Column:
    return (F.length(F.trim(F.coalesce(text, F.lit("")))) > 0) & (
        conf > F.lit(rules.VALID_CONF)
    )


def fusion_order_key() -> Column:
    """The fusion window's total order over candidate rows as one
    ascending-comparable struct, so ``min_by(x, fusion_order_key())``
    picks exactly the window's row_number() == 1 row.  Field by field
    against the window's ORDER BY:

      k_invalid   valid rows first
      k_null      confidence DESC NULLS LAST: a null confidence ranks
                  below every number
      k_not_nan   Spark orders NaN above every double, so DESC puts it
                  first; negation cannot express that (-NaN is NaN)
      k_nconf     confidence desc as an ascending key (0.0 == -0.0)
      k_priority  engine priority asc
      k_engine    engine asc; struct comparison puts a null engine
                  first, as the window's ASC NULLS FIRST does
      k_text      coalesce(text, '') asc
    """
    conf = F.col("confidence")
    return F.struct(
        F.when(valid_expr(F.col("text"), conf), 0).otherwise(1).alias("k_invalid"),
        conf.isNull().alias("k_null"),
        (~F.isnan(conf)).alias("k_not_nan"),
        (-conf).alias("k_nconf"),
        priority_expr(F.col("engine")).alias("k_priority"),
        F.col("engine").alias("k_engine"),
        F.coalesce(F.col("text"), F.lit("")).alias("k_text"),
    )


def fuse_media_candidates(
    cands: DataFrame, early_termination: float | None = None
) -> DataFrame:
    """(doc_id, offset, engine, text, confidence) ->
    (doc_id, offset, text, confidence, method, n_consensus).

    ``early_termination`` mirrors the reference's high-confidence
    short-circuit (types.py:181-182 ``is_high_confidence`` at 0.95;
    examples/advanced_usage.py:200-220 stops the engine cascade once a
    result clears it): a span whose best valid candidate reaches the
    threshold resolves to that candidate as-is (method
    'early_termination', no consensus math) — the conditional is
    evaluated BEFORE the Jaccard expression, so the expensive word-set
    similarity never runs for early spans.  None disables the gate.
    """
    valid = valid_expr(F.col("text"), F.col("confidence"))

    # Total order: valid first, then conf desc, then priority asc, then
    # engine/text asc — pins the reference's unstable tie at
    # engine_manager.py:262 (SURVEY.md section 7.5 hard part #2).
    keyed = cands.select(
        "doc_id",
        "offset",
        "engine",
        "text",
        "confidence",
        valid.alias("is_valid"),
        F.when(valid, 0).otherwise(1).alias("k_invalid"),
        priority_expr(F.col("engine")).alias("k_priority"),
        F.coalesce(F.col("text"), F.lit("")).alias("k_text"),
    )
    order_cols = [
        F.col("k_invalid").asc(),
        F.col("confidence").desc(),
        F.col("k_priority").asc(),
        F.col("engine").asc(),
        F.col("k_text").asc(),
    ]
    w = Window.partitionBy("doc_id", "offset").orderBy(*order_cols)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    ranked = keyed.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.first("text").over(wall).alias("best_text"),
        F.first("confidence").over(wall).alias("best_conf"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).over(wall).alias("n_valid"),
        F.max(F.when(F.col("is_valid"), F.col("confidence")))
        .over(wall)
        .alias("max_valid_conf"),
    )
    early = (
        F.col("max_valid_conf") >= F.lit(float(early_termination))
        if early_termination is not None
        else F.lit(False)
    )

    # A non-best valid row joins the consensus iff high-confidence and
    # word-similar to the winner (engine_manager.py:272-279).  The
    # early gate comes first so the Jaccard never evaluates for spans
    # that short-circuit.
    agrees = F.when(early, F.lit(False)).otherwise(
        (F.col("rn") > 1)
        & F.col("is_valid")
        & (F.col("confidence") > F.lit(rules.CONSENSUS_CONF))
        & (jaccard_expr(F.col("best_text"), F.col("text")) > F.lit(rules.SIM_THRESHOLD))
    )
    scored = ranked.select(
        "*",
        F.sum(F.when(agrees, 1).otherwise(0)).over(wall).alias("n_agree"),
        F.sum(F.when(agrees, F.col("confidence")).otherwise(F.lit(0.0)))
        .over(wall)
        .alias("agree_conf_sum"),
    ).where(F.col("rn") == 1)

    n_consensus = F.lit(1) + F.col("n_agree")
    avg_conf = (F.col("best_conf") + F.col("agree_conf_sum")) / n_consensus
    boosted = F.least(
        F.lit(rules.CONF_CAP),
        avg_conf
        + F.least(
            F.lit(rules.BOOST_CAP), F.lit(rules.BOOST_PER_ENGINE) * n_consensus
        ),
    )
    multi_valid = F.col("n_valid") >= 2
    has_consensus = multi_valid & (F.col("n_agree") > 0)

    return scored.select(
        "doc_id",
        "offset",
        F.col("best_text").alias("text"),
        F.when(early, F.col("best_conf"))
        .when(has_consensus, boosted)
        .otherwise(F.col("best_conf"))
        .alias("confidence"),
        F.when(early, F.lit("early_termination"))
        .when(F.col("n_valid") == 0, F.lit("fallback_best_of_failed"))
        .when(F.col("n_valid") == 1, F.lit("single_valid"))
        .when(
            has_consensus,
            F.concat(F.lit("consensus_"), n_consensus, F.lit("_engines")),
        )
        .otherwise(F.lit("best_single"))
        .alias("method"),
        F.when(early, F.lit(1))
        .when(F.col("n_valid") == 0, F.lit(0))
        .when(has_consensus | (F.col("n_valid") >= 1), n_consensus)
        .cast("int")
        .alias("n_consensus"),
    )


def fuse_media_candidates_routed(
    cands: DataFrame, early_termination: float = 0.95
) -> DataFrame:
    """Early-termination as an explicit filter-split -> union plan.

    Stage 1 (cheap): ONE aggregate per span — min_by under the total
    fusion order (fusion_order_key) picks the winner, max(valid conf)
    computes the route.  No window sort, no Jaccard.
    Stage 2: spans whose best valid candidate clears the threshold emit
    directly from the aggregate (method 'early_termination'); the rest
    are semi-joined back and run the full consensus machinery.

    Output is row-identical to
    ``fuse_media_candidates(cands, early_termination=...)`` (pinned by
    tests).  Plan tradeoff, measured: the split DAG consumes the
    candidate source and the route aggregate from two branches, which
    the static planner cannot dedupe across the union (AQE reuses the
    shuffle stages at runtime when plans canonicalize equal, but the
    scans still run per branch).  Prefer the single-pass
    ``early_termination=`` gate when candidates are a live subquery;
    prefer THIS shape when candidates are a materialized table (scans
    are cheap column-pruned re-reads) and most spans short-circuit, so
    the window+Jaccard stage runs over a small residue.  Both shuffles
    hash the same (doc_id, offset) key, so the split adds no new skew.
    """
    valid = valid_expr(F.col("text"), F.col("confidence"))
    agg = cands.groupBy("doc_id", "offset").agg(
        F.min_by(
            F.struct(F.col("text").alias("t"), F.col("confidence").alias("c")),
            fusion_order_key(),
        ).alias("win"),
        F.max(F.when(valid, F.col("confidence"))).alias("mvc"),
    )
    is_early = F.col("mvc") >= F.lit(float(early_termination))
    early_out = agg.where(is_early).select(
        "doc_id",
        "offset",
        F.col("win.t").alias("text"),
        F.col("win.c").alias("confidence"),
        F.lit("early_termination").alias("method"),
        F.lit(1).cast("int").alias("n_consensus"),
    )
    # rest = everything NOT early, via an anti-join against the early
    # keys: the early_out aggregate subtree is then consumed twice with
    # an IDENTICAL shuffle, so Spark's ReuseExchange computes the route
    # aggregate once (a where(~early) semi-join variant would build a
    # second, different aggregate subtree and recompute it).  The join
    # must be NULL-SAFE: groupBy puts null doc_id/offset keys in a real
    # group, so an early null group's rows would otherwise also survive
    # the plain anti-join (null keys never equi-match) and be fused a
    # second time — duplicating output rows vs the single-pass form.
    e = early_out.select("doc_id", "offset")
    rest = cands.join(
        e,
        cands["doc_id"].eqNullSafe(e["doc_id"])
        & cands["offset"].eqNullSafe(e["offset"]),
        "left_anti",
    )
    return fuse_media_candidates(rest).unionByName(early_out)


def fuse_with_retry(
    cands: DataFrame,
    retry_cands: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """Two-pass recognition with a confidence-gated retry — the batch
    analog of the reference's PSM fallback (tesseract.py:111-143: run
    the configured PSM, and when no regions came back or the average
    confidence is < 0.3, run an alternative-PSM pass and keep whichever
    result is MORE confident).

    ``retry_cands`` is the alternative-configuration recognition pass
    (same candidate schema).  Dataflow, the vectorized "retry on the
    low-confidence subset of the batch" (SURVEY section 4):

      pass 1   fuse_media_candidates(cands) over every span
      route    fused confidence < threshold (0.3, the reference gate)
               OR method = fallback_best_of_failed (the reference's
               empty-regions arm — no VALID candidate exists, whatever
               the failed winner's numeric confidence says)
      pass 2   fuse the retry candidates for ONLY the routed spans —
               the retry table is semi-joined down to the residue
               first, so the second fusion's shuffle carries the
               low-confidence subset, not the corpus
      winner   the retry result replaces pass 1 iff STRICTLY more
               confident (tesseract.py:131-141 ``avg_conf_2 >
               best_confidence``); its method gains a ``retry_``
               prefix so routing is observable downstream

    Scale: both fusions and the final join hash the same
    (doc_id, offset) key; with a threshold that routes p of the spans,
    pass 2 costs O(p * |retry_cands|).  All key joins are null-safe,
    consistent with fuse_media_candidates_routed.  The pass-1 result is
    consumed by three branches (high route, low route, residue keys);
    Spark's ReuseExchange dedupes the underlying shuffle, but a
    production run that feeds LIVE (non-materialized) candidates
    should persist/checkpoint pass 1 first — same guidance as
    fuse_media_candidates_routed's materialized-table regime.
    """
    out_cols = ["doc_id", "offset", "text", "confidence", "method", "n_consensus"]
    p1 = fuse_media_candidates(cands)
    # The route covers BOTH reference arms (tesseract.py:111-143):
    # low average confidence (< threshold) AND "no regions came back" —
    # a fallback_best_of_failed span has no valid candidate regardless
    # of its numeric confidence (all-blank text with high conf would
    # otherwise skip the retry).  The coalesce makes the route
    # null-free: NULL fused confidence (every candidate conf null) is
    # the strongest no-regions form and routes to retry, and the
    # low/high splits stay exactly complementary (a raw NULL predicate
    # falls out of BOTH branches of `where(p)` / `where(~p)`).
    route = F.coalesce(
        (F.col("confidence") < F.lit(float(threshold)))
        | (F.col("method") == F.lit("fallback_best_of_failed")),
        F.lit(True),
    )
    low = p1.where(route)
    high = p1.where(~route)

    low_keys = low.select("doc_id", "offset")
    r = retry_cands.join(
        low_keys,
        retry_cands["doc_id"].eqNullSafe(low_keys["doc_id"])
        & retry_cands["offset"].eqNullSafe(low_keys["offset"]),
        "left_semi",
    )
    p2 = fuse_media_candidates(r).select(
        F.col("doc_id").alias("r_doc_id"),
        F.col("offset").alias("r_offset"),
        F.col("text").alias("r_text"),
        F.col("confidence").alias("r_confidence"),
        F.col("method").alias("r_method"),
        F.col("n_consensus").alias("r_n_consensus"),
    )
    joined = low.join(
        p2,
        low["doc_id"].eqNullSafe(p2["r_doc_id"])
        & low["offset"].eqNullSafe(p2["r_offset"]),
        "left",
    )
    # A retry result wins when strictly more confident
    # (tesseract.py:131-141 ``avg_conf_2 > best_confidence``); any
    # confidence beats a null pass-1 confidence.  For the no-regions
    # arm, a VALID retry beats an INVALID pass-1 winner regardless of
    # the failed winner's numeric confidence — the reference's first
    # pass carries no usable regions there at all.
    valid_retry_beats_failed = (
        (F.col("method") == F.lit("fallback_best_of_failed"))
        & (F.col("r_method") != F.lit("fallback_best_of_failed"))
    )
    better = (
        F.col("r_confidence")
        > F.coalesce(F.col("confidence"), F.lit(float("-inf")))
    ) | valid_retry_beats_failed
    retried = joined.select(
        "doc_id",
        "offset",
        F.when(better, F.col("r_text")).otherwise(F.col("text")).alias("text"),
        F.when(better, F.col("r_confidence"))
        .otherwise(F.col("confidence"))
        .alias("confidence"),
        F.when(better, F.concat(F.lit("retry_"), F.col("r_method")))
        .otherwise(F.col("method"))
        .alias("method"),
        F.when(better, F.col("r_n_consensus"))
        .otherwise(F.col("n_consensus"))
        .alias("n_consensus"),
    )
    return high.select(*out_cols).unionByName(retried.select(*out_cols))
