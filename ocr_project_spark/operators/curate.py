"""Training-corpus curation: the composed filter→dedup pipeline a
pretraining-data run executes before extraction, with per-document
disposition and witness lineage.

Reference parity: the reference culls results below a confidence floor
before fusion (/root/reference/src/advanced_ocr/core/results.py:howto —
filter_by_confidence; pipeline.py batch validation) — the corpus-scale
analog is culling documents below a quality floor / outside the
language allowlist before the expensive stages.  The dedup tiers are
the LLM-data additions (SURVEY.md §2 dedup inventory).

Stage order is scale-driven: the quality and language filters are
projection-only (no shuffle, whole-stage codegen over the scan) and on
a web crawl drop the bulk of the corpus, so they run BEFORE the
shuffling tiers — exact-hash groupBy, then the SimHash banded
self-join over exact keepers only.  At 100 TB every stage shrinks the
next stage's shuffle.

Disposition rules (deterministic, order-free, SQL-expressible — each
document gets exactly one):

  ``low_quality``  quality_score(text) rounded to 3 decimals is below
                   ``min_quality`` (rounded on BOTH engines so the
                   float boundary cannot straddle the oracle).
  ``lang``         passes quality, ``lang_guess`` not in ``languages``.
  ``exact_dup``    passes both, another surviving document with
                   identical normalized text has a smaller id
                   (witness_id = the keeper, i.e. min such id).
  ``near_dup``     exact keeper, but some smaller-id exact keeper lies
                   within ``max_hamming`` SimHash bits
                   (witness_id = min such id).
  ``kept``         none of the above.

The near-dup rule is the *pairwise-witness* rule: every dropped
document names an explicit smaller-id witness.  It drops a superset of
greedy-by-id admission (a document whose only witnesses were
themselves dropped still goes) and needs no iterative connected
components — one banded equi-join, pigeonhole-exact for
``max_hamming <= bands - 1``, AQE skew-split on hot buckets.  When
transitive cluster-level election is required instead, use
``simhash_clusters``/``minhash_clusters`` + ``elect_keepers``
(operators/dedup.py), and for batch-over-batch admission the
``*_dedup_incremental`` tiers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_project_spark import caching
from ocr_project_spark.functions.cleanup import PII_PATTERNS
from ocr_project_spark.functions.text import lang_guess, quality_score, tokens
from ocr_project_spark.operators.dedup import (
    _simhash_banded,
    hamming_words_expr,
    normalized_text,
    simhash_signatures,
)

DISPOSITIONS = ("low_quality", "lang", "exact_dup", "near_dup", "kept")


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    languages: tuple[str, ...] = ("en",),
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Per-document curation verdict over ``docs``.

    Returns one row per input document:
    ``(id_col, disposition, witness_id, quality, lang_guess)`` where
    ``disposition`` is one of ``DISPOSITIONS``, ``witness_id`` is the
    smaller-id duplicate that condemned an ``exact_dup``/``near_dup``
    row (NULL otherwise), and ``quality`` is the 3-decimal-rounded
    quality score the floor was applied to.

    Downstream keeps ``disposition = 'kept'``; the other rows are the
    audit trail (what was dropped, why, and on whose account).

    Caching contract: the (id, sig) simhash projection is persisted
    (MEMORY_AND_DISK — the near tier consumes it from four plan
    branches) and registered under the ``"curate_corpus"`` tag in
    :mod:`ocr_project_spark.caching`; long-lived drivers should
    ``caching.release("curate_corpus")`` after the consuming action.
    """
    if max_hamming > bands - 1:
        # a looser setting silently classifies true near-dups as
        # 'kept' (the banded join never surfaces them) — refuse, like
        # simhash_dedup_incremental; never a stripped-under-`-O` assert
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got bands={bands}) for the banded join to be exact"
        )
    txt = F.coalesce(F.col(text_col), F.lit(""))
    q_ok = F.col("quality") >= F.lit(min_quality)
    l_ok = F.col("lang_guess").isin(*languages)
    ok = q_ok & l_ok

    # One chain for scoring + the exact tier: the keeper is a windowed
    # conditional min over the normalized-text hash (min skips the
    # nulls the filter predicate injects for non-survivors), NOT a
    # groupBy + join-back — the join-back shape re-scans the expensive
    # scored projection once per branch (a measured 9-scan / 26-
    # exchange plan); the window keeps it at one scan + one shuffle.
    scored = docs.select(
        F.col(id_col).alias("id"),
        txt.alias("_text"),
        F.round(quality_score(txt), 3).alias("quality"),
        lang_guess(txt).alias("lang_guess"),
    ).withColumn("_h", F.md5(normalized_text(F.col("_text"))))
    flagged = scored.withColumn(
        "_keeper",
        F.min(F.when(ok, F.col("id"))).over(Window.partitionBy("_h")),
    )
    is_keeper = ok & (F.col("id") == F.col("_keeper"))

    # near tier over exact keepers only: banded SimHash self-join with
    # the identical-signature hot-bucket guard (same collapse the
    # cluster tiers use), witness math preserved EXACTLY:
    #   for doc m in signature-group g with representative r = min(g):
    #     in-group candidate   r            (iff m != r; hamming 0)
    #     cross-group candidate nmin(g)     (iff nmin(g) < m), where
    #       nmin(g) = min over reps of groups within max_hamming — and
    #       a neighbor group's min MEMBER id IS its rep, so the rep
    #       min equals the member min
    #   witness(m) = least(of the applicable candidates)
    # The banded join runs over DISTINCT signatures only (both
    # directions — a group with a small rep can condemn members of a
    # group whose rep is even smaller), so boilerplate-heavy corpora
    # cost distinct-sigs^2 per bucket instead of keepers^2.
    keeper_docs = flagged.where(is_keeper).select("id", "_text")
    sigs = simhash_signatures(keeper_docs, id_col="id", text_col="_text", bits=bits)
    # The near tier consumes `sigs` from FOUR branches (the join-back,
    # the rep groupBy, and both sides of the banded self-join); without
    # materialization Spark recomputes the whole scan -> score ->
    # window -> signature-aggregate chain per branch (measured: a
    # 5-scan / 18-exchange plan).  Persist the (id, sig) projection —
    # it is the smallest point in the DAG (two columns, exact keepers
    # only).  At 100 TB the same cut is a WRITE: land the signature
    # table (the *_dedup_incremental tiers' signature store) and run
    # the near tier against storage.  Registered under the
    # "curate_corpus" caching tag (see module ocr_project_spark.caching)
    # so long-lived drivers can release it after the consuming action.
    sigs = caching.track(sigs, "curate_corpus")
    reps = sigs.groupBy("sig").agg(F.min("id").alias("_rid"))
    banded = _simhash_banded(reps.select(F.col("_rid").alias("id"), "sig"), bits, bands)
    a, b = banded.alias("a"), banded.alias("b")
    rep_nmin = (
        a.join(b, ["band", "bb"])
        .where(F.col("a.id") != F.col("b.id"))
        .where(
            hamming_words_expr(F.col("a.sig"), F.col("b.sig"), bits)
            <= F.lit(max_hamming)
        )
        .groupBy(F.col("a.id").alias("_rid"))
        .agg(F.min(F.col("b.id")).alias("_nmin"))
    )
    near_dups = (
        sigs.join(reps, "sig")
        .join(rep_nmin, "_rid", "left")
        .select(
            "id",
            F.least(
                F.when(F.col("id") != F.col("_rid"), F.col("_rid")),
                F.when(F.col("_nmin") < F.col("id"), F.col("_nmin")),
            ).alias("_w_near"),
        )
        .where(F.col("_w_near").isNotNull())
    )

    disposition = (
        F.when(~q_ok, F.lit("low_quality"))
        .when(~l_ok, F.lit("lang"))
        .when(F.col("id") != F.col("_keeper"), F.lit("exact_dup"))
        .when(F.col("_w_near").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    witness = (
        F.when(ok & (F.col("id") != F.col("_keeper")), F.col("_keeper"))
        .otherwise(F.col("_w_near"))
    )
    return flagged.join(near_dups, "id", "left").select(
        F.col("id").alias(id_col),
        disposition.alias("disposition"),
        witness.alias("witness_id"),
        "quality",
        "lang_guess",
    )


def curated_keepers(curated: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The surviving ids from a ``curate_corpus`` result."""
    return curated.where(F.col("disposition") == "kept").select(id_col)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per document, count the DISTINCT
    word n-grams (dedup.shingles) that also occur anywhere in the
    benchmark corpus; flag ``contaminated`` when the count reaches
    ``min_hits`` -> (doc_id, bench_hits, contaminated).

    The eval-leak guard a pretraining pipeline runs before training —
    the reference engine has no corpus ops; this extends the curation
    tier (see curate_corpus) with the standard n-gram-overlap
    contamination test.

    Scale shape: the benchmark side reduces to one DISTINCT shingle
    set (eval suites are tiny next to a crawl) and is broadcast by
    default, so the corpus side never shuffles for the match — explode
    (narrow) -> broadcast hash join -> one groupBy(doc_id) over only
    the MATCHED rows, then a left join back so zero-hit documents
    keep a row.  Set ``broadcast_benchmark=False`` when the benchmark
    itself is corpus-sized (shuffled equi-join on the shingle).
    Empty-token documents produce no shingles on either side (the
    degenerate '' shingle is filtered, so an empty doc never matches
    an empty benchmark line).
    """
    from ocr_project_spark.functions.text import word_tokens
    from ocr_project_spark.operators.dedup import shingles_from_tokens

    # tokenize ONCE in a projection (an inline word_tokens inside the
    # shingle transform re-runs per element: O(tokens^2)/doc), then
    # explode_outer + isNotNull: a plain explode of the shingle
    # expression lets the optimizer infer size(..) > 0 and duplicate
    # the whole transform into a scan-level Filter
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(text_col)).alias("_t"),
        )
        .select(
            "doc_id",
            F.explode_outer(shingles_from_tokens(F.col("_t"), n)).alias("s"),
        )
        .where(F.col("s").isNotNull() & (F.col("s") != ""))
    )
    bsh = (
        benchmark.select(word_tokens(F.col(bench_text_col)).alias("_t"))
        .select(
            F.explode_outer(shingles_from_tokens(F.col("_t"), n)).alias("s")
        )
        .where(F.col("s").isNotNull() & (F.col("s") != ""))
        .distinct()
    )
    if broadcast_benchmark:
        bsh = F.broadcast(bsh)
    hits = sh.join(bsh, "s").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("bench_hits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("bench_hits"), F.lit(0)).alias("bench_hits"),
            (F.coalesce(F.col("bench_hits"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def _hash_threshold(rate: float) -> str:
    """rate in [0,1] -> 8-hex-digit threshold string such that
    ``substring(md5(key),1,8) < threshold`` keeps ~rate of keys.
    Fixed-length lowercase hex compares lexicographically exactly as
    it compares numerically, so the predicate is pure string ops —
    portable byte-for-byte to any engine with the same md5 (the
    DuckDB oracle included).  rate>=1 returns 'g' (sorts above every
    hex digit: keep all); rate<=0 returns '00000000' (keep none)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "00000000"
    return format(int(rate * 16**8), "08x")


def hash_sample(
    df: DataFrame,
    rate: float | None = None,
    key_col: str = "doc_id",
    salt: str = "",
    strata_col: str | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic content-hash sampling: keep a row iff the first 8
    hex digits of md5(salt|key) fall below the rate's threshold.

    The sampling primitive a 10^12-doc pipeline needs instead of
    ``df.sample()``: reproducible across runs, cluster sizes, AND
    repartitionings (no RNG state rides on partition ids), stable
    under incremental reruns (a document's verdict never changes), and
    a pure narrow filter — pushed into the scan, no shuffle, no
    sampling pass.  Different ``salt`` values draw independent samples
    from the same corpus (train/eval splits that never collide).

    Uniform form: ``hash_sample(df, rate=0.1)``.  Stratified form:
    ``hash_sample(df, strata_col="lang", rates={"en": .5, "de": .2})``
    keeps per-stratum rates (strata absent from ``rates`` fall back to
    ``default_rate`` — 0.0, drop, by default: an UNKNOWN stratum in a
    rate table should be an explicit decision, not a silent keep).

    NULL keys hash a sentinel so they receive one deterministic
    verdict per (salt, rate) instead of vanishing from every sample
    via NULL predicate propagation.  That is the one spot where a
    naive SQL mirror (``md5(salt || '|' || key)``) diverges: plain
    string concatenation NULL-propagates and drops such rows — a
    portable oracle must COALESCE the key the same way (the driver
    tables carry no NULL keys, so the shipped oracle skips it).
    """
    if (rate is None) == (rates is None):
        raise ValueError("pass exactly one of rate= or rates=")
    if rates is not None and strata_col is None:
        raise ValueError("rates= needs strata_col=")
    prefix = f"{salt}|" if salt else ""
    # NULL keys hash a sentinel instead of propagating NULL through
    # md5 (a NULL predicate silently drops the row from EVERY sample,
    # even rate=1.0); all NULL-key rows share one deterministic
    # verdict per (salt, rate)
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00<null-key>"))
    h = F.substring(F.md5(F.concat(F.lit(prefix), key_str)), 1, 8)
    if rate is not None:
        keep = h < F.lit(_hash_threshold(rate))
    else:
        expr = None
        for stratum, r in rates.items():
            cond = F.col(strata_col) == stratum
            thr = h < F.lit(_hash_threshold(r))
            expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
        fallback = h < F.lit(_hash_threshold(default_rate))
        keep = fallback if expr is None else expr.otherwise(fallback)
    return df.where(keep)


def split_corpus(
    df: DataFrame,
    splits: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic DISJOINT multi-way corpus split (train/val/test):
    every row gets exactly one ``split`` label, assigned by which
    cumulative md5-threshold band the row's content hash falls into —
    the same hash machinery as :func:`hash_sample`, so the assignment
    is reproducible across runs, cluster sizes and repartitionings,
    stable under incremental reruns, and a pure narrow projection (no
    shuffle, no RNG state).  ``hash_sample`` draws ONE fraction;
    independent draws with different salts can overlap — this is the
    partition form a train/val/test layout actually needs: disjoint
    and exhaustive by construction.

    ``splits`` maps label -> fraction and must sum to 1.0 (±1e-6);
    band layout follows dict insertion order, so the same
    (splits, salt) always yields the same assignment.  NULL keys hash
    the same sentinel as hash_sample (one deterministic verdict, never
    silently dropped).  The last band absorbs the residual hash range,
    so float rounding in the cumulative thresholds can never leave a
    row unlabeled.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    prefix = f"{salt}|" if salt else ""
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00<null-key>"))
    h = F.substring(F.md5(F.concat(F.lit(prefix), key_str)), 1, 8)
    labels = list(splits)
    expr = None
    cum = 0.0
    for name in labels[:-1]:
        cum += splits[name]
        cond = h < F.lit(_hash_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(labels[-1])
    label = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", label)


def cap_per_source(
    df: DataFrame,
    cap: int,
    id_col: str = "doc_id",
    key_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Per-key frequency cap: keep at most ``cap`` documents per
    ``key_col`` value (domain, source, feed) — the web-pipeline
    over-representation guard (C4 caps pages per URL, CCNet per
    domain) that rate-based sampling cannot express: hash_sample keeps
    a FRACTION per stratum, mix_corpus a target PROPORTION; this keeps
    a COUNT, so a 10^9-page domain and a 10^4-page domain both
    contribute <= cap documents.

    Which documents survive is a deterministic salted-hash lottery,
    the same determinism contract as hash_sample: rank documents
    within each key by (md5(salt|id), id) ascending and keep rank <=
    cap — reproducible across runs, cluster sizes, and input
    partitionings, stable under incremental reruns, and independent
    draws per ``salt``.  Returns the kept rows with their original
    columns plus ``keep_rank`` (1..cap within the key).  Dropped rows
    are recoverable as a witness set via anti-join on ``id_col``.

    Shape at scale: one hash-partitioned exchange on ``key_col`` plus
    a rank filter that Spark plans as WindowGroupLimit — each task
    pre-prunes its partition to a local top-``cap`` per key BEFORE the
    exchange, so the shuffle carries at most cap x distinct-keys-per-
    task rows, not the corpus (hot domains — the reason the cap exists
    — are exactly the rows that never travel).  That pushdown is why
    this returns keepers-only instead of a full disposition column: a
    keep flag on every row would force the whole corpus through the
    window exchange.

    NULL ids hash one shared sentinel (hash_sample's convention), so
    several NULL-id rows inside one key tie at the same rank order and
    which of them fill the last slots is not defined — documented
    edge; feed real ids.  NULL keys form their own capped group, as in
    SQL PARTITION BY.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    prefix = f"{salt}|" if salt else ""
    key_str = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00<null-key>"))
    h = F.md5(F.concat(F.lit(prefix), key_str))
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("keep_rank", F.row_number().over(w))
        .where(F.col("keep_rank") <= F.lit(cap))
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment:
    the step between packing and the trainer, where the corpus is
    dealt into ``n_shards`` files in an order that must not correlate
    with the ingest order (web crawls arrive domain-clustered; a
    trainer reading them in scan order sees non-i.i.d. batches).

    shard = int(first 8 md5 hex digits of (salt|key)) mod n_shards;
    pos   = 0-based rank of the full digest within the shard (ties —
    impossible for distinct keys — broken by the key string, making
    the order total; multiple NULL-key rows share the sentinel digest
    and take consecutive slots in an arbitrary relative order).  Like
    ``hash_sample``, verdicts are pure content hashes: reproducible
    across runs, cluster sizes, and repartitionings, and a different
    ``salt`` deals an independent permutation (epoch reshuffles).

    Physical shape at 10^12 docs: ONE hash exchange on ``shard``
    (uniform by construction — md5 cannot skew) followed by an
    in-partition sort; with ``n_shards`` >= shuffle parallelism this
    is exactly the repartition + sortWithinPartitions layout a shard
    writer wants — no global sort, no driver involvement.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    prefix = f"{salt}|" if salt else ""
    key_str = F.coalesce(
        F.col(key_col).cast("string"), F.lit("\x00<null-key>")
    )
    digest = F.md5(F.concat(F.lit(prefix), key_str))
    shard = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        % F.lit(n_shards)
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("_digest", "_key_str")
    return (
        df.withColumn("_digest", digest)
        .withColumn("_key_str", key_str)
        .withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("_digest", "_key_str")
    )


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "lang",
    key_col: str = "doc_id",
    budget: int | None = None,
    salt: str = "",
) -> tuple[DataFrame, dict[str, float]]:
    """Target-mixture downsampling ("data mixing"): subsample each
    domain so the output corpus follows the RELATIVE ``weights``
    (domain -> weight; only ratios matter), the knob every pretraining
    run turns to rebalance web/books/code/language shares.

    Two passes, both scale-clean: (1) per-domain counts — one
    aggregate, #domains rows collected to the driver (metadata scale);
    (2) ``hash_sample``'s stratified narrow filter with the derived
    per-domain rates — deterministic, shuffle-free, reproducible
    across runs, cluster sizes and repartitionings.

    ``budget=None`` keeps the LARGEST corpus achievable at exactly the
    requested mixture: the binding domain (min over count_d / w_d)
    keeps rate 1.0 and every other domain downsamples to match.  An
    explicit ``budget`` targets ~budget total documents instead; a
    budget so large some domain would need rate > 1 is infeasible at
    that mixture and raises (upsampling/repetition is a different
    operation — this one never duplicates a document).

    Domains absent from ``weights`` are dropped (hash_sample's
    explicit-decision default).  Weights must be > 0; a domain with
    weight listed but zero rows makes the mixture infeasible
    (budget=None collapses to an empty corpus) and raises.

    Returns (sampled df, per-domain rates) — the rates are the audit
    lineage a resumable pipeline records next to its manifest.  Exact
    per-domain arithmetic (count/weight division order) is mirrored by
    the DuckDB oracle byte-for-byte; expected sizes are approximate
    (hash thresholds), the SAMPLE itself is deterministic.
    """
    if not weights:
        raise ValueError("weights must name at least one domain")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be > 0 (omit a domain to drop it)")
    counts = {
        r["d"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = [d for d in weights if counts.get(d, 0) == 0]
    if missing:
        raise ValueError(
            f"domains {missing} have no rows — mixture infeasible "
            "(remove them from weights)"
        )
    if budget is None:
        s = min(counts[d] / w for d, w in weights.items())
    else:
        s = budget / sum(weights.values())
    rates: dict[str, float] = {}
    for d, w in weights.items():
        r = w * s / counts[d]
        if r > 1.0:
            if budget is None:
                # float noise on the binding domain only — clamp
                r = 1.0
            else:
                raise ValueError(
                    f"budget {budget} needs rate {r:.3f} > 1 for domain "
                    f"{d!r} — infeasible at this mixture"
                )
        rates[d] = r
    sampled = hash_sample(
        df, key_col=key_col, salt=salt, strata_col=domain_col, rates=rates
    )
    return sampled, rates


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repetition metrics over word n-grams — the
    Gopher-rule repetition signal (a doc dominated by a few repeated
    n-grams is boilerplate/spam-like and gets culled before training):

      (doc_id, n_grams, distinct_grams, top_gram_n,
       dup_gram_frac, top_gram_frac)

    ``dup_gram_frac`` is the fraction of n-gram slots occupied by
    repeats of an already-seen gram ((n_grams - distinct) / n_grams);
    ``top_gram_frac`` the slots taken by the single most frequent
    gram.  Fractions round to 3 decimals (oracle float portability);
    documents with fewer than ``n`` tokens keep a row of zeros.

    Shape: tokenize ONCE in a projection (HOF lambdas re-evaluate
    inline subexpressions per element), hash each n-gram window to a
    64-bit key, array_sort the per-row key array, and fold it in one
    linear aggregate() pass — distinct count and max multiplicity
    (= longest equal-run of the sorted array) per document with ZERO
    Exchange nodes: the metrics are per-document, so nothing ever
    needs to leave the row, and the plan is embarrassingly parallel
    at any corpus size.  (The previous shape paid two corpus-scale
    shuffles — explode → groupBy(doc, gram) → groupBy(doc) → join
    back — for what one row-local pass computes.)

    Oracle-triage note: Spark counts grams by their xxhash64 while the
    DuckDB oracle counts exact gram STRINGS, so a 64-bit collision
    between two distinct grams inside one document would undercount
    distinct_grams here and surface as a confusing hash-red on this
    query.  Probability ~grams²·2⁻⁶⁴ — accepted risk; if this oracle
    ever reds with a tiny distinct_grams delta, screen for a collision
    before suspecting the fold.
    """
    from ocr_project_spark.functions.text import word_tokens

    t = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("_t")
    )
    # gram identity = xxhash64 of the n-token slice ARRAY (element
    # boundaries folded by the hash) — the counts only need gram
    # EQUALITY, so the shuffle carries an 8-byte key per position and
    # the per-window string build disappears from the transform; a
    # 64-bit collision merging two distinct grams inside one document
    # has probability ~grams²·2⁻⁶⁴ — negligible at any real doc size
    grams = F.when(
        F.size(F.col("_t")) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("_t")) - n),
            lambda i: F.xxhash64(F.slice(F.col("_t"), i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # The metrics are PURELY per-document, so no shuffle is needed at
    # all: sort the per-row gram-hash array and fold it once — the
    # distinct count and the longest equal-run (== max multiplicity)
    # fall out of one linear pass.  The previous shape (explode →
    # groupBy(doc, gram) → groupBy(doc) → join back) paid two
    # corpus-scale exchanges for per-row arithmetic; this plan has
    # ZERO Exchange nodes and every doc row already carries its
    # answer — the embarrassingly-parallel shape 10^12 docs want.
    t2 = t.select("doc_id", F.array_sort(grams).alias("_g"))

    def _step(acc, x):
        same = (acc["d"] != 0) & (x == acc["p"])
        r = F.when(same, acc["r"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            x.alias("p"),
            r.alias("r"),
            F.when(same, acc["d"]).otherwise(acc["d"] + 1).alias("d"),
            F.greatest(acc["m"], r).alias("m"),
        )

    zero = F.lit(0).cast("bigint")
    acc0 = F.struct(
        zero.alias("p"), zero.alias("r"), zero.alias("d"), zero.alias("m")
    )
    # _st materialized in its own projection: selecting two fields from
    # an inline aggregate() would re-run the whole fold per field
    # (CollapseProject keeps the split because _st is referenced twice)
    t3 = t2.select(
        "doc_id",
        F.size("_g").cast("long").alias("n_grams"),
        F.aggregate(F.col("_g"), acc0, _step).alias("_st"),
    )
    safe = F.col("n_grams") > 0
    # 3-decimal fracs rounded in INTEGER arithmetic — round(a/b, 3)
    # == (2000a + b) div (2b) / 1e3 for non-negative a — because a
    # ratio landing exactly on the .0005 grid rounds differently in
    # Spark (BigDecimal HALF_UP) vs a float-multiplying SQL engine
    return t3.select(
        "doc_id",
        "n_grams",
        F.col("_st")["d"].alias("distinct_grams"),
        F.col("_st")["m"].alias("top_gram_n"),
        F.when(
            safe,
            F.expr(
                "(2000 * (n_grams - _st.d) + n_grams) div (2 * n_grams)"
            )
            / F.lit(1e3),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_gram_frac"),
        F.when(
            safe,
            F.expr("(2000 * _st.m + n_grams) div (2 * n_grams)")
            / F.lit(1e3),
        )
        .otherwise(F.lit(0.0))
        .alias("top_gram_frac"),
    )


def scrub_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII redaction over a document corpus: replace every match of
    each pattern with its ``<NAME>`` token and count what was redacted
    (the audit columns a release-gated training-data run must emit).

    Corpus-scale analog of the reference's text cleanup ladder
    (/root/reference/src/advanced_ocr/utils/text_processing.py —
    regex-driven artifact removal before downstream consumption);
    the PII patterns themselves are the standard web-corpus scrub set.

    Patterns apply sequentially in dict order, each counting against
    (then rewriting) the output of the previous one — so overlapping
    matches are resolved deterministically, identically on any engine
    with leftmost non-overlapping regex-replace semantics.

    Pure ``regexp_count`` + ``regexp_replace`` projections: no
    shuffle, no Python, whole-stage codegen; at 100 TB a free rider on
    the scan.  Returns (id_col, clean_text, n_<name> per pattern,
    n_pii); rows are never dropped.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat in pats.items():
        counts.append(
            F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        text = F.regexp_replace(text, pat, f"<{name.upper()}>")
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return docs.select(
        F.col(id_col),
        text.alias("clean_text"),
        *counts,
        total.cast("long").alias("n_pii"),
    )


# Gopher quality-rule defaults (Rae et al. 2021, "Scaling Language
# Models: ...Gopher", Table A1 document filters).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_columns(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> dict[str, Column]:
    """The Gopher rule over one text Column: its metric Columns and the
    ``keep`` verdict, by output name in ``gopher_rules`` order.  The one
    definition of the rule -- ``gopher_rules`` projects all of them,
    a filtering caller (curate_job) needs only ``keep``."""
    filled = F.coalesce(text, F.lit(""))
    words = tokens(text)
    n = F.size(words)
    char_sum = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.round(
        F.when(n > 0, char_sum.cast("double") / n).otherwise(F.lit(0.0)), 4
    )
    n_sym = F.regexp_count(filled, F.lit("#")) + F.regexp_count(
        filled, F.lit(r"\.\.\.")
    )
    sym_ratio = F.round(
        F.when(n > 0, n_sym.cast("double") / n).otherwise(F.lit(0.0)), 4
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    alpha_frac = F.round(
        F.when(n > 0, n_alpha.cast("double") / n).otherwise(F.lit(0.0)), 4
    )
    n_stop = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in stopwords]),
        )
    )
    keep = (
        (n >= F.lit(min_words))
        & (n <= F.lit(max_words))
        & (mean_len >= F.lit(min_mean_word_len))
        & (mean_len <= F.lit(max_mean_word_len))
        & (sym_ratio < F.lit(max_symbol_ratio))
        & (alpha_frac >= F.lit(min_alpha_frac))
        & (n_stop >= F.lit(min_stopwords))
    )
    return dict(
        n_words=n.cast("long"), mean_word_len=mean_len, symbol_ratio=sym_ratio,
        alpha_frac=alpha_frac, n_stop=n_stop.cast("long"), keep=keep,
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds,
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021, Table A1):
    word count within [min_words, max_words], mean word length within
    [min_mean_word_len, max_mean_word_len], symbol-to-word ratio
    (``#`` or ``...`` occurrences per word) below max_symbol_ratio,
    at least min_alpha_frac of words containing an alphabetic
    character, and at least min_stopwords DISTINCT stopwords present.
    ``thresholds`` are ``gopher_columns``' keyword arguments.

    Completes the quality trio: ``clean_lines`` (C4, line level) →
    ``gopher_rules`` (document level) → ``repetition_stats`` (Gopher
    repetition section).  Like those, one projection of array HOFs —
    no shuffle, no Python, codegen'd end-to-end.

    Ratios are rounded to 4 decimals so a float boundary cannot
    straddle an oracle comparison.  Returns (id_col, n_words,
    mean_word_len, symbol_ratio, alpha_frac, n_stop, keep); rows are
    never dropped — callers filter on ``keep``.
    """
    cols = gopher_columns(F.col(text_col), **thresholds)
    return docs.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def clean_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    require_terminal: bool = True,
    blocklist: tuple[str, ...] = ("lorem ipsum", "javascript", "{"),
    min_lines: int = 1,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the
    rules the C4 corpus applied to every Common Crawl page): per line,
    keep only lines with >= ``min_words`` words that end in terminal
    punctuation (``.!?"``) and contain no blocklisted phrase
    (case-insensitive); per document, flag docs that retain fewer than
    ``min_lines`` lines.

    Entirely built-in array HOFs over one projection — no shuffle, no
    Python, whole-stage-codegen'd: split -> trim -> filter ->
    array_join.  At 100 TB this is a free rider on the scan.

    Returns (id_col, clean_text, n_lines_in, n_lines_kept, keep):
    ``clean_text`` is the kept lines rejoined with newlines (empty
    string when nothing survives), ``keep`` is the document-level
    verdict.  Rows are never dropped — like extract()'s never-fail
    status contract, the caller filters on ``keep`` and retains the
    audit trail.
    """
    raw = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    lines = F.filter(
        F.transform(raw, lambda l: F.trim(l)), lambda l: l != ""
    )

    def _good(l):
        cond = F.size(F.split(l, r"\s+")) >= F.lit(min_words)
        if require_terminal:
            cond = cond & l.rlike(r'[.!?"]$')
        for phrase in blocklist:
            cond = cond & ~F.lower(l).contains(phrase.lower())
        return cond

    kept = F.filter(lines, _good)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).alias("n_lines_in"),
        F.size(kept).alias("n_lines_kept"),
        (F.size(kept) >= F.lit(min_lines)).alias("keep"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 1,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k salient terms per document by smooth TF-IDF — the
    term-weighting tier of the text-analysis suite (keyword extraction
    / topic tagging before corpus mixing; the reference's per-result
    word statistics, engine_manager.py:320-321, generalized to a
    corpus-relative salience score).

        idf  = ln((N + 1) / (df + 1)) + 1        (sklearn smooth idf)
        score = tf * idf

    Returns (doc_id, term, tf, df, tfidf, rank), rank 1..k per doc.

    Cross-engine determinism: ``idf`` is rounded to 6 decimals BEFORE
    the product, so the ranking key ``tf * idf`` is the same IEEE
    double on Spark and any SQL oracle (integer x short-decimal
    double; bare ``ln`` may differ by 1 ulp between libm builds);
    score ties break on ``term`` ascending, so the top-k cut is
    deterministic.  The OUTPUT ``tfidf`` value is rounded to 4
    decimals in exact integer micro arithmetic (tf × idf_micro),
    because tf times a 6-decimal idf lands exactly on the .00005
    float-rounding boundary whenever tf·idf_micro ≡ 50 (mod 100) —
    the engine-divergence class the sf1 gate caught in dsir/lm.

    Shape: tokenize once in a projection, explode (narrow), count per
    (doc, term) — a map-side-combining shuffle on balanced composite
    keys; document frequency re-aggregates per term (vocabulary-scale
    shuffle) and joins back term-keyed — the physical plan broadcasts
    the vocabulary side (BuildRight BroadcastHashJoin).  N is a single
    metadata-scale count() action — pass ``n_docs`` to skip it when
    the caller already knows the corpus size (e.g. from checkpoint
    metrics).  The top-k ranking runs as WindowGroupLimit: a partial
    per-partition top-k BEFORE the doc_id exchange, so the final
    window shuffle carries ≤ k rows per doc per task.

    Two shapes deliberately rejected: (a) df via ``count() over
    (partition by term)`` would save the join and the second scan but
    buffers one window partition per term — a stopword like "the" has
    ~N rows, an unbounded skew hazard the hash aggregate (partial
    combine, no buffering) does not have; (b) persisting the
    corpus-scale (doc, term) tf table to dedupe the shared subplan
    trades a second columnar scan (cheap, pruned to two columns) for
    materializing the largest intermediate in the query — at 10^12
    docs the re-scan wins.  Spark inlines shared subplans, so the tf
    aggregate is computed twice; both copies pipeline independently.
    """
    from ocr_project_spark.functions.text import word_tokens

    if n_docs is None:
        n_docs = docs.count()
    t = docs.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("_t")
    )
    # explode_outer + isNotNull, not plain explode: the optimizer
    # would infer size>0 and duplicate the tokenize into a scan Filter
    terms = t.select("doc_id", F.explode_outer("_t").alias("term")).where(
        F.col("term").isNotNull()
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= F.lit(min_df))
    )
    idf = F.round(
        F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0, 6
    )
    s = tf.join(dfq, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        # ranking key: the raw product (integer × 6-decimal double, one
        # IEEE multiply — identical in any engine, maximal resolution)
        (F.col("tf") * idf).alias("_score"),
        # output value: exact integer micro product, so the 4-decimal
        # rounding below never hits the .00005 float boundary (tf ×
        # a 6-decimal idf lands there whenever tf·idf_micro ≡ 50 mod
        # 100 — the dsir/lm engine-divergence class)
        (F.round(idf * F.lit(1e6), 0).cast("long") * F.col("tf")).alias(
            "_m"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("_score").desc(), "term")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.expr("(_m + 50L) div 100L") / F.lit(1e4)).alias("tfidf"),
            "rank",
        )
    )


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    keep_first: bool = False,
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """CROSS-corpus line-level dedup (the CCNet / RefinedWeb
    boilerplate-line pass): a trimmed line that occurs in at least
    ``min_docs`` DISTINCT documents is boilerplate (nav bars, cookie
    banners, footers — the text that repeats across a site) and is
    removed from every document; ``keep_first=True`` instead retains
    each such line only in the smallest-id document that carries it
    (the witness convention the dedup tiers use).

    Completes the line-level story next to ``clean_lines``:
    clean_lines judges each line on its OWN content (C4 rules);
    dedup_lines judges it against the REST OF THE CORPUS.  Empty /
    whitespace-only lines are dropped up front (they carry no signal
    and would otherwise all collide into one global mega-group).

    Scale shape (10^12 docs): posexplode lines (narrow) -> one
    map-side-combining aggregate keyed by (line, doc) then line to get
    the distinct-doc frequency -> the flagged blocklist is the
    HEAVY-HITTER set (lines repeated across >= min_docs docs — tiny
    next to the distinct-line universe) and is broadcast by default,
    so the corpus side never shuffles for the match; set
    ``broadcast_blocklist=False`` to fall back to a shuffled equi-join
    when the blocklist itself is too large to broadcast.  Reassembly
    is ONE doc_id shuffle: sort the surviving (idx, line) structs per
    doc and rejoin with newlines.  No Python anywhere.

    Returns (id_col, clean_text, n_lines_in, n_lines_kept) — one row
    per input document, never dropped; ``clean_text`` is '' when
    nothing survives.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    raw = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    lines = (
        docs.select(F.col(id_col).alias("doc_id"), raw.alias("_ls"))
        .select(
            "doc_id",
            F.posexplode_outer(F.col("_ls")).alias("idx", "_l"),
        )
        .select("doc_id", "idx", F.trim(F.col("_l")).alias("line"))
        .where(F.col("line").isNotNull() & (F.col("line") != ""))
    )
    freq = lines.groupBy("line").agg(
        F.count_distinct(F.col("doc_id")).alias("_df"),
        F.min("doc_id").alias("_first_doc"),
    )
    block = freq.where(F.col("_df") >= F.lit(min_docs)).select(
        "line", "_first_doc"
    )
    if broadcast_blocklist:
        block = F.broadcast(block)
    joined = lines.join(block, "line", "left")
    if keep_first:
        survives = F.col("_first_doc").isNull() | (
            F.col("doc_id") == F.col("_first_doc")
        )
    else:
        survives = F.col("_first_doc").isNull()
    # ONE aggregate produces kept-text, kept-count and in-count
    # together: collect_list skips the NULLs the `when` injects for
    # blocked lines, so no second scan branch and no extra join —
    # reassembly is the single doc_id shuffle.
    asm = joined.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(survives, F.struct(F.col("idx"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_in"),
        F.count(F.when(survives, F.lit(1))).alias("n_lines_kept"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(asm, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines_in"), F.lit(0)).cast("long").alias(
                "n_lines_in"
            ),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias(
                "n_lines_kept"
            ),
        )
    )


def _bigram_stream(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent word-token pair.

    Narrow: tokenize once in a projection, build the pair array with
    zip_with over two slices (no window, no self-join), explode_outer
    + isNotNull so the optimizer cannot infer a size()>0 filter that
    would duplicate the tokenize into the scan (see BASELINE.md
    round-3 plan fixes).  Documents with < 2 tokens contribute no
    rows (their NULL pair array explodes to one null row, filtered).
    """
    from ocr_project_spark.functions.text import word_tokens

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(text_col)).alias("_t"),
    )
    n = F.size(F.col("_t"))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("_t"), 1, n - 1),
            F.slice(F.col("_t"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    return (
        t.select("doc_id", F.explode_outer(pairs).alias("_p"))
        .where(F.col("_p").isNotNull())
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_docs: DataFrame | None = None,
    k: float = 0.5,
    min_count: int = 1,
    vocab_size: int | None = None,
    cutoffs: tuple[float, float] | None = None,
    broadcast_unigrams: bool | None = None,
) -> DataFrame:
    """CCNet-style n-gram language-model perplexity scoring.

    The perplexity-filtering stage of a pretraining-data pipeline
    (CCNet, Wenzek et al. 2020; reused by LLaMA data prep): train a
    bigram LM with add-k smoothing on ``train_docs`` (defaults to
    ``docs`` itself — corpus self-scoring), score every document by
    its average per-token negative log-likelihood, and optionally band
    documents head/middle/tail by explicit ``cutoffs`` — CCNet derives
    the two thresholds from a calibration run's percentiles; here they
    are passed in so the banding CASE is deterministic and
    oracle-portable.  Reference parity: this is the corpus-scale
    analog of the reference's per-result confidence gate
    (/root/reference/src/advanced_ocr/core/results.py
    filter_by_confidence) with a learned, corpus-relative score in
    place of the engine-reported confidence.

        P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)
        avg_nll(d) = mean over d's bigram positions of -ln P
        ppl(d)     = exp(avg_nll)

    Returns (doc_id, n_bigrams, avg_nll, ppl[, band]); documents with
    fewer than 2 tokens produce no row (compose with a left join +
    coalesce for a keep-all variant).

    Cross-engine determinism (the same ladder tfidf_top_terms uses):
    ``k`` defaults to 0.5 so numerator and denominator stay exactly
    representable (integer + half); the single division of identical
    doubles is correctly rounded hence identical IEEE; each addend's
    ``ln`` is rounded to 6 decimals and scaled to an integer MICRO
    value BEFORE the sum (bare libm ln may differ by 1 ulp between
    engines, and float-sum association order differs too), the
    per-doc sum is exact integer arithmetic, the 4-decimal mean is
    rounded by integer division (half away from zero), and
    ``ppl``/``band`` are computed FROM the rounded mean.

    Shape at scale: ONE corpus-scale map-side-combining training
    aggregate on (w1,w2), persisted; the context-count table is its
    w1-marginal (vocabulary-scale input), not a second corpus pass.  Scoring left-joins the bigram stream against the counts:
    the unigram-context side is broadcast when the vocabulary is known
    to fit (``broadcast_unigrams``: None = auto, broadcast iff the
    resolved vocab_size ≤ 2M contexts; a web-scale tens-of-millions
    vocabulary would blow the driver/executor broadcast budget, so it
    falls back to a shuffle join that AQE can still convert if the
    post-aggregate table is small); the bigram side is a shuffle join
    sized by AQE —
    at web scale prune it with ``min_count`` (hapax bigrams are the
    long tail of the table and the smoothing fallback covers them:
    an unseen pair scores (k)/(c1 + k·V), an unseen context 1/V).
    Context counts c(w1) aggregate BEFORE min_count pruning so the
    denominator keeps the true context mass.  V is one scalar action
    (distinct-token count over the training stream) — pass
    ``vocab_size`` to skip it, e.g. from
    functions.text.distinct_token_count(approximate=True) at corpus
    scale.  Train-vs-score split (CCNet trains on Wikipedia, scores
    the crawl) is ``train_docs``; unseen-pair/-context fallbacks are
    exactly the coalesce(…, 0) branches, so a held-out corpus scores
    without any join loss.

    Caching contract: the unpruned bigram count table c(w1, w2) is
    persisted (MEMORY_AND_DISK — vocabulary-scale, so an eviction
    costs a corpus re-pass while a spill costs one local read) because
    the pruned bigram side, the w1-marginal context counts, and the
    scoring joins all consume it.  The handle is registered under the
    ``"lm_score"`` tag in :mod:`ocr_project_spark.caching`; long-lived
    drivers should ``caching.release("lm_score")`` after the consuming
    action (curate_job.py's per-stage unpersist is the model).
    """
    from ocr_project_spark.functions.text import word_tokens

    train = train_docs if train_docs is not None else docs
    tb = _bigram_stream(train, id_col, text_col)
    # ONE corpus-scale aggregate over the training bigram stream —
    # c(w1) is exactly the w1-marginal of the UNPRUNED c(w1,w2) table,
    # so the context counts aggregate a vocabulary-scale input instead
    # of re-running the corpus stream (which also re-tokenized every
    # training document a second time).  Persisted because the bigram
    # side, the context marginal, and the scoring joins all consume it
    # (the dsir_weights feature-vector convention).
    c2_raw = caching.track(
        tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2")),
        "lm_score",
    )
    c2 = c2_raw
    if vocab_size is not None and vocab_size <= 0:
        raise ValueError(
            f"vocab_size must be positive, got {vocab_size} — an empty "
            "training vocabulary makes every smoothed probability "
            "divide by zero"
        )
    if min_count > 1:
        c2 = c2.where(F.col("_c2") >= F.lit(min_count))
    # pre-pruning marginal: the denominator keeps the true context mass
    c1 = c2_raw.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    if vocab_size is None:
        vocab_size = (
            train.select(
                F.explode_outer(word_tokens(F.col(text_col))).alias("_w")
            )
            .where(F.col("_w").isNotNull())
            .select("_w")
            .distinct()
            .count()
        )
        # self-scoring an empty corpus yields no rows, not an error
        if vocab_size == 0 and train_docs is not None:
            raise ValueError(
                "training corpus has no tokens — cannot fit a bigram LM"
            )

    sb = _bigram_stream(docs, id_col, text_col)
    p = (F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(float(k))) / (
        F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(float(k)) * F.lit(float(vocab_size))
    )
    if broadcast_unigrams is None:
        broadcast_unigrams = vocab_size <= 2_000_000
    c1_side = F.broadcast(c1) if broadcast_unigrams else c1
    # per-bigram NLL in integer MICRO units (round(-ln p, 6) scaled by
    # 1e6): the per-doc sum is then exact integer arithmetic and the
    # 4-decimal mean is rounded with integer division — float-sum
    # association order and the BigDecimal-vs-float .00005 boundary
    # (which flipped sf1 rows between Spark and DuckDB) cannot bite
    scored = (
        sb.join(c2, ["w1", "w2"], "left")
        .join(c1_side, ["w1"], "left")
        .select(
            "doc_id",
            F.round(-F.log(p) * F.lit(1e6), 0).cast("long").alias("_nllm"),
        )
    )
    agg = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_nllm").alias("_m"),
        )
        # round(m / (100·n)) half-up == (2m + 100n) div (200n); _m ≥ 0
        # because p < 1 strictly (c2 ≤ c1 and k·V > k)
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(2*_m + 100*n_bigrams) div (200*n_bigrams)")
                / F.lit(1e4)
            ).alias("avg_nll"),
        )
    )
    out = agg.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
    )
    if cutoffs is not None:
        t1, t2 = cutoffs
        out = out.withColumn(
            "band",
            F.when(F.col("avg_nll") <= F.lit(float(t1)), F.lit("head"))
            .when(F.col("avg_nll") <= F.lit(float(t2)), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    return out


def _hashed_bigram_buckets(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(doc_id, bucket) — one row per word-bigram position, bucketed
    by the first 8 md5 hex digits of 'w1|w2' mod n_buckets (the same
    engine-portable integer-hash idiom as shuffle_shards/hash_sample;
    word tokens are [a-z0-9]+ so '|' cannot collide)."""
    b = _bigram_stream(docs, id_col, text_col)
    digest = F.md5(F.concat_ws("|", F.col("w1"), F.col("w2")))
    return b.select(
        "doc_id",
        (
            F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
            % F.lit(n_buckets)
        ).alias("bucket"),
    )


def dsir_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection with
    Importance Resampling): score every raw document by how much more
    likely its hashed n-gram features are under a TARGET corpus (the
    domain you want more of — a benchmark seed set, curated text) than
    under the raw corpus itself.

        p_t(f) = (c_target(f) + k) / (N_target + k·B)
        p_r(f) = (c_raw(f)    + k) / (N_raw    + k·B)
        log_w(d) = sum over d's bigram positions of
                   [ln p_t(f) - ln p_r(f)]

    Features are word bigrams hashed into ``n_buckets`` buckets (the
    paper's hashed n-gram estimator — bucketing bounds both count
    tables at B rows regardless of corpus size).  Returns
    (doc_id, n_feats, log_w) for EVERY input document — a doc with
    < 2 tokens has no features, an empty product, log_w = 0 — so a
    downstream sampler never silently drops rows.

    Cross-engine determinism: the bucket hash is exact integer md5
    arithmetic; both per-bucket ``ln`` terms are rounded to 6 decimals
    before their difference, which is then scaled to integer MICRO
    units (×1e6, rounded to a long) so the per-doc weighted sum is
    exact integer arithmetic — association-order-proof at any corpus
    size; log_w = round(micro_sum / 1e6, 4).
    ``k`` = 0.5 keeps every ratio's numerator/denominator exactly
    representable.

    Shape at scale: each feature stream (narrow tokenize + explode)
    runs EXACTLY ONCE — the raw stream aggregates straight to per-doc
    feature vectors (doc_id, bucket, count), persisted, from which
    the global count table, N_raw, and the scoring pass all derive;
    the target stream feeds one B-bounded count aggregate whose sum
    is N_target.  One B-bounded join forms the per-bucket log-ratio,
    the scoring pass joins it BROADCAST (≤ n_buckets rows by
    construction), and the only corpus-scale exchange is the per-doc
    feature aggregate keyed by (doc_id, bucket).

    Caching contract: the per-doc feature vectors and the target
    bucket counts are persisted (MEMORY_AND_DISK) and registered under
    the ``"dsir_weights"`` tag in :mod:`ocr_project_spark.caching`;
    long-lived drivers should ``caching.release("dsir_weights")``
    after the consuming action.
    """
    tgt = _hashed_bigram_buckets(target_docs, id_col, text_col, n_buckets)
    raw = _hashed_bigram_buckets(docs, id_col, text_col, n_buckets)
    # Per-doc feature vectors (doc_id, bucket, _c) materialized ONCE —
    # the corpus-scale bigram stream is tokenized and md5-hashed a
    # single time; the global count table, the N_raw total, and the
    # scoring pass all derive from this table (the paper's hashed
    # feature vectors, bounded per doc by min(doc bigrams, B)).
    # Without it the raw stream ran three times: the count-table
    # aggregate, an eager raw.count() action, and the scoring pass —
    # measured 11.4 s -> ~5 s at sf1.  Persisted because the totals
    # action below and the caller's eventual action both consume it
    # (same convention as minhash_signatures' sigs persist).
    dc = caching.track(
        raw.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("_c")),
        "dsir_weights",
    )
    ct = caching.track(
        tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct")),
        "dsir_weights",
    )
    cr = dc.groupBy("bucket").agg(F.sum("_c").alias("_cr"))
    # totals from the aggregates themselves (B-bounded / cached) — no
    # second pass over either corpus just to count positions
    n_t = int(ct.agg(F.sum("_ct")).collect()[0][0] or 0)
    n_r = int(dc.agg(F.sum("_c")).collect()[0][0] or 0)

    kf = float(k)
    denom_t = float(n_t) + kf * float(n_buckets)
    denom_r = float(n_r) + kf * float(n_buckets)
    # per-bucket log-ratio in MICRO units (×1e6, rounded to integer):
    # the two 6-decimal-rounded ln terms are identical doubles in any
    # IEEE engine, so their difference scaled and rounded to a long is
    # engine-identical — and the per-doc SUM below is then exact
    # integer arithmetic, immune to float-addition association order
    # (at sf1 the double-sum version flipped one row in 50k at the
    # 4-decimal rounding boundary between Spark and the DuckDB oracle)
    ratio = (
        cr.join(ct, "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                (
                    F.round(
                        F.log(
                            (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(kf))
                            / F.lit(denom_t)
                        ),
                        6,
                    )
                    - F.round(
                        F.log(
                            (F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(kf))
                            / F.lit(denom_r)
                        ),
                        6,
                    )
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("_lrm"),
        )
    )

    per_doc = (
        dc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_feats"),
            F.sum(F.col("_c") * F.col("_lrm")).alias("_m"),
        )
        # final 4-decimal rounding done in INTEGER arithmetic on the
        # micro sum (half away from zero): micro sums ending in ..50
        # sit exactly on the .00005 boundary, where Spark (BigDecimal
        # of the shortest decimal string, HALF_UP) and DuckDB (float
        # multiply-round) disagree — measured 27 docs in 50k at sf1.
        # Integer rounding gives both engines the identical double.
        .withColumn("_q", F.expr("(abs(_m) + 50L) div 100L"))
        .select(
            "doc_id",
            "n_feats",
            (
                F.when(F.col("_m") < 0, -F.col("_q")).otherwise(F.col("_q"))
                / F.lit(1e4)
            ).alias("log_w"),
        )
    )
    # null-safe join-back: a null-id document's features aggregate
    # under per_doc's null group, and a plain equi-join would silently
    # zero its weight (the null-key trap fuse_media_candidates_routed
    # hit) — eqNullSafe hands the null group's weight back instead
    left = docs.select(F.col(id_col).alias("doc_id"))
    return left.join(
        per_doc.withColumnRenamed("doc_id", "_pid"),
        left["doc_id"].eqNullSafe(F.col("_pid")),
        "left",
    ).select(
        left["doc_id"],
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce(F.col("log_w"), F.lit(0.0)).alias("log_w"),
    )


def dsir_sample(
    docs: DataFrame,
    target_docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k: float = 0.5,
    seed: str = "",
) -> DataFrame:
    """DSIR selection: draw ``n`` documents without replacement with
    probability proportional to their importance weight, via the
    Gumbel top-k trick the paper uses — key = log_w + Gumbel noise,
    take the n largest keys.  The noise is derived from a content
    hash, so the sample is reproducible across runs, cluster sizes
    and repartitionings, and a different ``seed`` draws an
    independent sample (same convention as hash_sample /
    shuffle_shards):

        u = (int(first 8 md5 hex digits of (seed|doc_id)) + 0.5) / 2^32
        g = -ln(-ln(u))            (standard Gumbel)
        key = log_w + g

    Returns (doc_id, log_w, key) for the selected documents.
    Determinism: u is exactly representable (32-bit integer + 0.5,
    divided by a power of two); ``g`` is rounded to 6 decimals; the
    final key is one addition of identical doubles.  The top-n is a
    global TakeOrderedAndProject (per-partition partial top-n, no full
    sort), ties broken on doc_id.
    """
    w = dsir_weights(docs, target_docs, id_col, text_col, n_buckets, k)
    key_str = F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00<null-key>"))
    prefix = f"{seed}|" if seed else ""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), key_str)), 1, 8), 16, 10
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(2**32))
    g = F.round(-F.log(-F.log(u)), 6)
    keyed = w.select(
        "doc_id", "log_w", (F.col("log_w") + g).alias("key")
    )
    return keyed.orderBy(F.col("key").desc(), F.col("doc_id")).limit(n)
