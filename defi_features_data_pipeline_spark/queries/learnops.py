"""Learned-model / corpus-statistics operator family: the curation
steps that FIT something on the corpus and then apply it back —
a distributed logistic-regression quality classifier (train + score),
unigram-LM perplexity bucketing (the CCNet head/middle/tail split),
duplicated-substring-span detection (the fixed-width window form of
suffix-array substring dedup), and declared-target domain mixture
resampling. These sit beside the dedup/similarity stack in
queries/extensions.py as the model-fitting half of a training-data
pipeline.

Determinism contract (same as queries/core.py / featureops.py):
- every cross-row accumulation runs in exact DECIMAL — summation order
  cannot move a result;
- the classifier's link function is the RATIONAL sigmoid
  p = 0.5 + 0.5·m/(1+|m|): IEEE +,·,/,abs only, no libm exp(), so both
  engines produce bit-identical probabilities from the same weights;
- statistics are rounded to 6 dp (10 dp for per-instance log-probs)
  BEFORE any further arithmetic;
- DuckDB decimal→double goes through the VARCHAR hop (core.D2D_SQL);
- learning rates are exact powers of two;
- corpus-derived model tables (vocabulary frequencies, duplicated-span
  sets) are pinned `shuffle_hash` — the r7 sf10-probe rule: a
  corpus-scaled join side must never reach a broadcast via a size
  ESTIMATE (see PLANS.md sf10 addendum).

Reference analogues: the reference fits nothing (its features are SQL
aggregates — src/pipelines/features/transformations/*.sql); this family
covers the model-fitting operators a large-scale training-data pipeline
needs beyond that surface, per the build brief. 100 TB notes inline.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, functions as F

from ..operators.ranking import top_k_per_group
from .core import D2D_SQL
from .extensions import H_SQL, TOKENS_DUCK, TOKENS_SPARK, _h, _spread, _t

LEARNOPS_QUERIES: dict = {}
LEARNOPS_ORACLES: dict = {}


# ---------------------------------------------------------------------------
# Distributed logistic-regression quality classifier (train + score)
# ---------------------------------------------------------------------------

QC_ITERS = 8          # fixed iteration count → no convergence action
QC_LR = 0.5           # exact 2^-1: lr·g is a mantissa-preserving multiply
QC_LABEL_MIN_CHARS = 300  # "high quality" proxy label: doc length ≥ median-ish
QC_STOP = "('the','a','of','and','in','to','is')"  # same list as text_quality

# Feature vector per document (all exactly-representable low-scale
# decimals, so gradient products stay exact in DECIMAL(18,6)²):
#   x0 = 1                        (bias)
#   x1 = n_tokens / 100           (exact 2 dp)
#   x2 = (stop·10⁴ div n_tokens) / 10⁴   (stopword ratio, floor 4 dp)
#   x3 = (chars·10⁴ div (n_tokens·10)) / 10⁴  (chars/token/10, floor 4 dp)
#
# x2/x3 are INTEGER floor-divisions scaled back by an exact power of
# ten — NOT round(double, 4): cross-engine round() on doubles diverges
# on exact .5 ties (DuckDB's multiply-and-nearbyint is half-EVEN where
# Spark's BigDecimal is half-UP), and ratios over token counts hit
# exact ties constantly (power-of-two denominators). Integer div is
# bit-identical everywhere; k/10⁴ → double is one correctly-rounded
# conversion in both engines.
QC_FEATURES = ["x0", "x1", "x2", "x3"]
QC_FEATURE_NAMES = ["bias", "tok_centi", "stop_ratio", "char_per_tok_deci"]

# DuckDB feature CTE — MUST stay algebraically identical to _qc_features
QC_FEATURES_DUCK = f"""qf AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN n_chars >= {QC_LABEL_MIN_CHARS} THEN 1 ELSE 0 END AS y,
         1.0 AS x0,
         CAST(len(__toks) AS DOUBLE) / 100.0 AS x1,
         CAST((len(list_filter(__toks, t -> t IN {QC_STOP})) * 10000)
              // len(__toks) AS DOUBLE) / 10000.0 AS x2,
         CAST((list_sum(list_transform(__toks, t -> length(t))) * 10000)
              // (len(__toks) * 10) AS DOUBLE) / 10000.0 AS x3
  FROM (SELECT doc_id, n_chars, {TOKENS_DUCK} AS __toks FROM documents)
  WHERE len(__toks) > 0
)"""


def _qc_feature_frame(d: DataFrame) -> DataFrame:
    """Per-doc (y, x0..x3) feature columns over ANY documents frame —
    batch or streaming (pure stateless column arithmetic, JVM
    codegen); empty docs dropped in both engines."""
    d = d.withColumn("__toks", F.expr(TOKENS_SPARK)).filter(F.size("__toks") > 0)
    nt = F.size("__toks").cast("double")
    stop_k = F.expr(
        f"(CAST(size(filter(__toks, t -> t IN {QC_STOP})) AS BIGINT) * 10000)"
        " div size(__toks)"
    )
    chars_k = F.expr(
        "(CAST(aggregate(transform(__toks, t -> length(t)), 0,"
        " (acc, v) -> acc + v) AS BIGINT) * 10000) div (size(__toks) * 10)"
    )
    return d.select(
        "doc_id",
        F.when(F.col("n_chars") >= QC_LABEL_MIN_CHARS, F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
        F.lit(1.0).alias("x0"),
        (nt / F.lit(100.0)).alias("x1"),
        (stop_k.cast("double") / F.lit(10000.0)).alias("x2"),
        (chars_k.cast("double") / F.lit(10000.0)).alias("x3"),
    )


def _qc_features(spark, sf_dir) -> DataFrame:
    return _qc_feature_frame(_spread(spark, _t(spark, sf_dir, "documents")))


def _qc_p_col(w: list[float]) -> F.Column:
    """Rational-sigmoid probability from PYTHON weights embedded as
    literals. Parse tree is pinned to
    (((w0·x0 + w1·x1) + w2·x2) + w3·x3) then 0.5 + 0.5·(m/(1+|m|)) —
    the oracle SQL spells the identical tree, and every op is an IEEE
    correctly-rounded double op, so the engines agree bitwise. The
    6 dp quantization is floor(p·10⁶)/10⁶, NOT round(p, 6): floor of
    an identical double is identical everywhere, while round-on-double
    is half-even in one engine and half-up in the other."""
    m = F.lit(w[0]) * F.col("x0")
    for j in (1, 2, 3):
        m = m + F.lit(w[j]) * F.col(QC_FEATURES[j])
    raw = F.lit(0.5) + F.lit(0.5) * (m / (F.lit(1.0) + F.abs(m)))
    return F.floor(raw * F.lit(1000000.0)).cast("double") / F.lit(1000000.0)


# Per-process memo of trained weights, keyed on the corpus file's
# identity (path + mtime + size): training is deterministic in the
# data, so the score gate (and repeated bench runs) reuse the fit
# instead of re-running 8 aggregate jobs. A data rewrite invalidates.
_QC_WEIGHT_CACHE: dict[tuple, tuple[list[float], int]] = {}


def _qc_cache_key(sf_dir: str) -> tuple:
    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    return (p, st.st_mtime_ns, st.st_size)


def _qc_train(spark, sf_dir) -> tuple[list[float], int]:
    """Batch gradient descent, QC_ITERS fixed iterations from w=0.

    Per iteration: ONE distributed aggregate job collecting d=4 decimal
    gradient sums (bounded O(d) driver metadata — the same pattern as
    the k-means trainer's per-iteration k×d sums); the weight update
    runs in driver doubles with the exact expression the oracle uses.
    The feature frame materializes once (eager localCheckpoint) so the
    tokenize pass doesn't replay per iteration.

    100 TB: the per-iteration cost is one map-side-combinable aggregate
    over the corpus — the textbook distributed-GD shape; nothing
    row-proportional ever reaches the driver."""
    key = _qc_cache_key(sf_dir)
    hit = _QC_WEIGHT_CACHE.get(key)
    if hit is not None:
        return hit
    feats = _qc_features(spark, sf_dir).localCheckpoint(eager=True)
    n = feats.count()  # bounded metadata: one scalar
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(QC_ITERS):
        p = _qc_p_col(w)
        resid = (F.col("y").cast("double") - p).cast("decimal(18,6)")
        sums = feats.agg(
            *[
                F.round(
                    F.sum(resid * F.col(x).cast("decimal(18,6)")), 6
                ).alias(f"g{j}")
                for j, x in enumerate(QC_FEATURES)
            ]
        ).first()
        # floor-scaled 6 dp quantization — the same deterministic
        # truncation the oracle's weight CTEs apply (see _qc_p_col)
        w = [
            math.floor((w[j] + QC_LR * (float(sums[f"g{j}"]) / n)) * 1e6) / 1e6
            for j in range(4)
        ]
    _QC_WEIGHT_CACHE[key] = (w, n)
    return w, n


def _qc_train_ctes() -> str:
    """Unrolled-GD CTE chain (the graph_pagerank discipline): w{i} is a
    1-row weight CTE; each iteration recomputes p per row from the
    previous weights and folds exact-decimal gradient sums."""
    parts = [
        QC_FEATURES_DUCK,
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM qf)",
        "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)",
    ]
    for i in range(1, QC_ITERS + 1):
        prev = f"w{i - 1}"
        m = (
            f"((({prev}.w0 * x0 + {prev}.w1 * x1) + {prev}.w2 * x2) "
            f"+ {prev}.w3 * x3)"
        )
        p = (
            f"floor((0.5 + 0.5 * ({m} / (1.0 + abs({m})))) * 1000000.0)"
            " / 1000000.0"
        )
        gsums = ", ".join(
            f"round(SUM(CAST(y - {p} AS DECIMAL(18,6)) * "
            f"CAST({x} AS DECIMAL(18,6))), 6) AS g{j}"
            for j, x in enumerate(QC_FEATURES)
        )
        parts.append(f"g{i} AS (SELECT {gsums} FROM qf CROSS JOIN {prev})")
        ups = ", ".join(
            f"floor(({prev}.w{j} + {QC_LR} * "
            f"({D2D_SQL.format(x=f'g{i}.g{j}')} / nn.n)) * 1000000.0)"
            f" / 1000000.0 AS w{j}"
            for j in range(4)
        )
        parts.append(
            f"w{i} AS (SELECT {ups} FROM {prev} CROSS JOIN g{i} CROSS JOIN nn)"
        )
    return ",\n".join(parts)


def q_quality_classifier_train(spark, sf_dir):
    """QUALITY-CLASSIFIER TRAINING: distributed batch-GD logistic
    regression (rational-sigmoid link) predicting the length-proxy
    quality label from (token count, stopword ratio, chars/token) —
    the fit half of classifier-based corpus filtering (the fastText /
    quality-model step every LLM data pipeline runs).

    Returns the learned weight vector as (feature, weight) rows; the
    oracle re-derives the SAME weights through 8 unrolled CTE
    iterations, so the entire training trajectory — not just the final
    scores — is cross-engine exact."""
    w, _ = _qc_train(spark, sf_dir)
    return spark.createDataFrame(
        list(zip(QC_FEATURE_NAMES, w)), "feature string, weight double"
    )


LEARNOPS_QUERIES["quality_classifier_train"] = q_quality_classifier_train
LEARNOPS_ORACLES["quality_classifier_train"] = (
    "WITH "
    + _qc_train_ctes()
    + f"""
SELECT f.feature, CASE f.j WHEN 0 THEN w0 WHEN 1 THEN w1
                            WHEN 2 THEN w2 ELSE w3 END AS weight
FROM w{QC_ITERS}
CROSS JOIN (VALUES ('bias', 0), ('tok_centi', 1), ('stop_ratio', 2),
                   ('char_per_tok_deci', 3)) AS f(feature, j)
"""
)


def q_quality_classifier_score(spark, sf_dir):
    """QUALITY-CLASSIFIER SCORING: apply the trained weights back to
    every document in one distributed pass — the filter step of
    classifier-based curation (keep p ≥ 0.5). Scoring is a pure
    column expression over the feature frame (JVM codegen, no join,
    no shuffle beyond the feature scan): the weights ride along as
    literals exactly as a broadcast model would at 100 TB."""
    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    p = _qc_p_col(w)
    return feats.select(
        "doc_id",
        p.alias("p_quality"),
        (p >= F.lit(0.5)).alias("pred_high"),
        (F.col("y") == 1).alias("label_high"),
    )


LEARNOPS_QUERIES["quality_classifier_score"] = q_quality_classifier_score
_QC_M_FINAL = "(((w.w0 * x0 + w.w1 * x1) + w.w2 * x2) + w.w3 * x3)"
_QC_P_FINAL = (
    f"floor((0.5 + 0.5 * ({_QC_M_FINAL} / (1.0 + abs({_QC_M_FINAL}))))"
    " * 1000000.0) / 1000000.0"
)
LEARNOPS_ORACLES["quality_classifier_score"] = (
    "WITH "
    + _qc_train_ctes()
    + f"""
SELECT doc_id,
       {_QC_P_FINAL} AS p_quality,
       {_QC_P_FINAL} >= 0.5 AS pred_high,
       y = 1 AS label_high
FROM qf CROSS JOIN w{QC_ITERS} w
"""
)


# ---------------------------------------------------------------------------
# Duplicated-substring-span detection (fixed-window substring dedup)
# ---------------------------------------------------------------------------

SPAN_WINDOW_TOKENS = 8     # window width (tokens)
SPAN_HEAVY_FRACTION = 0.25  # flag docs whose dup-span share ≥ this

_SPAN_WINDOWS_SPARK = (
    f"CASE WHEN size(__toks) >= {SPAN_WINDOW_TOKENS} THEN "
    f"transform(sequence(1, size(__toks) - {SPAN_WINDOW_TOKENS - 1}), "
    f"i -> concat_ws(' ', slice(__toks, i, {SPAN_WINDOW_TOKENS}))) "
    "ELSE array() END"
)
_SPAN_WINDOWS_DUCK = (
    f"CASE WHEN len(__toks) >= {SPAN_WINDOW_TOKENS} THEN "
    f"[array_to_string(__toks[i:i+{SPAN_WINDOW_TOKENS - 1}], ' ') "
    f"FOR i IN range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})] "
    "ELSE [] END"
)


def q_dedup_substring_spans(spark, sf_dir):
    """DUPLICATED-SUBSTRING-SPAN detection: for every 8-token window
    position in every document, test whether that exact window occurs
    in ≥ 2 distinct documents; report the per-doc duplicated-span
    fraction — the fixed-width windowed form of suffix-array exact
    substring dedup ("train-set memorization spans"), which the
    passage/minhash family can't see below its shingle granularity.

    Windows are compared by the portable 32-bit md5-prefix content
    hash (the declared equality key of this operator, same contract as
    the minhash/simhash family — both engines hash identically, so a
    collision is part of the semantics, and the exact-verify twin for
    collision-free equality is dedup_passage_exact).

    100 TB: explode is linear in token count; the duplicated-window
    set is CORPUS-SCALED, so its aggregate is pinned `shuffle_hash`
    and flows through a left-semi equi-join — never a broadcast by
    size estimate (PLANS.md sf10 rule); per-doc rollup is map-side
    combinable; docs below the window width rejoin with zero counts
    via a left join."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    wh = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.expr(_SPAN_WINDOWS_SPARK)).alias("w"))
        .select("doc_id", _h(F.col("w")).alias("wh"))
    )
    # one tokenize+explode pass feeds BOTH the dup-set build and the
    # per-position probe side — cut the lineage so it runs once
    wh = wh.localCheckpoint(eager=False)
    dup = (
        wh.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
        .hint("shuffle_hash")
    )
    n_win = wh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    n_dup = (
        wh.join(dup, "wh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    frac = F.when(
        F.col("n_windows") > 0,
        F.round(
            F.col("dup_windows").cast("double")
            / F.col("n_windows").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    # the doc-id spine for zero-count rejoin reads the raw scan (2
    # bigints/row) — no _spread: re-spreading a key-only projection
    # would just add a round-robin Exchange before the join shuffle
    return (
        _t(spark, sf_dir, "documents").select("doc_id")
        .join(n_win, "doc_id", "left")
        .join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            frac.alias("dup_fraction"),
            (frac >= SPAN_HEAVY_FRACTION).alias("dup_heavy"),
        )
    )


LEARNOPS_ORACLES["dedup_substring_spans"] = f"""
WITH wh AS (
  SELECT doc_id, {H_SQL.format(x='w')} AS wh
  FROM (SELECT doc_id, unnest({_SPAN_WINDOWS_DUCK}) AS w
        FROM (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents))
),
dup AS (SELECT wh FROM (SELECT wh, count(DISTINCT doc_id) AS nd
                        FROM wh GROUP BY wh) WHERE nd >= 2),
n_win AS (SELECT doc_id, count(*) AS n_windows FROM wh GROUP BY doc_id),
n_dup AS (SELECT doc_id, count(*) AS dup_windows
          FROM wh WHERE wh IN (SELECT wh FROM dup) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(n_windows, 0) AS n_windows,
       COALESCE(dup_windows, 0) AS dup_windows,
       CASE WHEN COALESCE(n_windows, 0) > 0
            THEN round(CAST(COALESCE(dup_windows, 0) AS DOUBLE)
                       / CAST(n_windows AS DOUBLE), 6)
            ELSE 0.0 END AS dup_fraction,
       CASE WHEN COALESCE(n_windows, 0) > 0
            THEN round(CAST(COALESCE(dup_windows, 0) AS DOUBLE)
                       / CAST(n_windows AS DOUBLE), 6)
            ELSE 0.0 END >= {SPAN_HEAVY_FRACTION} AS dup_heavy
FROM documents d
LEFT JOIN n_win USING (doc_id)
LEFT JOIN n_dup USING (doc_id)
"""
LEARNOPS_QUERIES["dedup_substring_spans"] = q_dedup_substring_spans


# ---------------------------------------------------------------------------
# EXACT longest duplicated cross-doc span (k-mer anchor + diagonal runs)
# ---------------------------------------------------------------------------


def longest_dup_span_frame(spark, d: DataFrame) -> DataFrame:
    """EXACT longest duplicated token span per document pair — the
    suffix-array answer ("what is the longest passage these two docs
    share?") computed distributed-friendly, retiring the fixed-width
    stand-in (`dedup_substring_spans` reports window COUNTS; this
    reports the maximal EXTENT, exactly).

    Anchor + diagonal-run decomposition: a shared token span of length
    L ≥ k contains exactly L−k+1 aligned k-token windows, and two
    positions (pa, pb) of the same window in docs (a, b) lie on the
    diagonal pa−pb — so a maximal shared span IS a maximal run of
    consecutive pa on one (a, b, diag). The pipeline: positioned
    k-windows (posexplode), self equi-join on the WINDOW STRING
    (collision-free equality — the exactness claim needs no hash
    caveat), gaps-and-islands per (a, b, diag) (island id = pa −
    row_number, the classic rewrite), max island per pair, and a
    rejoin to doc_a's tokens re-extracts the span text — the output
    carries the evidence. Exact for spans ≥ k = {k} tokens by
    construction; pairs sharing nothing ≥ k are absent (they belong to
    the passage/minhash granularity below).

    100 TB notes: windows are linear in corpus tokens; the anchor join
    is the Σ df² shape shared with dedup_passage_exact — both sides
    corpus-derived, pinned shuffle_hash, never estimate-broadcast; at
    real scale the anchor key would be the window HASH with an
    extend-verify re-read (noted, not needed at these SFs where the
    strings are ~40 bytes); the islands window partitions by
    (doc_a, doc_b, diag) — high-cardinality, already parallel, no
    grouped_rank needed; ties across diagonals resolve by integer
    (min start) rules, deterministic in both engines."""
    toks = d.withColumn("__toks", F.expr(TOKENS_SPARK))
    w = _positioned_windows(toks)
    w = w.localCheckpoint(eager=False)  # one tokenize pass, two sides
    wa = w.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "w"
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "w"
    )
    m = wa.join(wb.hint("shuffle_hash"), "w").filter(
        F.col("doc_a") < F.col("doc_b")
    )
    return _extend_spans(m, toks)


def _positioned_windows(toks: DataFrame) -> DataFrame:
    """(doc_id, pos, w): every 1-based position of every
    SPAN_WINDOW_TOKENS-token window STRING — the aligned-window
    relation both longest-span variants join on."""
    return toks.select(
        "doc_id",
        F.posexplode(F.expr(_SPAN_WINDOWS_SPARK)).alias("__p0", "w"),
    ).select(
        "doc_id", (F.col("__p0") + 1).cast("long").alias("pos"), "w"
    )


def _extend_spans(m: DataFrame, toks: DataFrame) -> DataFrame:
    """Diagonal gaps-and-islands extend shared by the dense and
    anchored longest-span operators. ``m`` is the matched
    aligned-window relation (doc_a, doc_b, pa, pb) with doc_a < doc_b;
    ``toks`` carries (doc_id, __toks) for the span-text rejoin."""
    k = SPAN_WINDOW_TOKENS
    from pyspark.sql import Window as _W

    isl = m.withColumn(
        "grp",
        F.col("pa")
        - F.row_number().over(
            _W.partitionBy(
                "doc_a", "doc_b", F.col("pa") - F.col("pb")
            ).orderBy("pa")
        ),
    )
    runs = isl.groupBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("diag"), "grp"
    ).agg(
        F.count(F.lit(1)).alias("run"),
        F.min("pa").alias("sa"),
        F.min("pb").alias("sb"),
    )
    best = runs.groupBy("doc_a", "doc_b").agg(
        F.max("run").alias("max_run")
    )
    top = (
        runs.join(best.hint("shuffle_hash"), ["doc_a", "doc_b"])
        .filter(F.col("run") == F.col("max_run"))
        .groupBy("doc_a", "doc_b", "max_run")
        .agg(
            F.count(F.lit(1)).alias("n_max_spans"),
            F.min("sa").alias("start_a"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("max_run") + F.lit(k - 1)).alias("span_len_tokens"),
            "n_max_spans",
            "start_a",
        )
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("__toks").alias("__ta")
    )
    return top.join(ta.hint("shuffle_hash"), "doc_a").select(
        "doc_a",
        "doc_b",
        "span_len_tokens",
        "n_max_spans",
        "start_a",
        F.concat_ws(
            " ",
            F.slice(F.col("__ta"), F.col("start_a"), F.col("span_len_tokens")),
        ).alias("span_text"),
    )


longest_dup_span_frame.__doc__ = longest_dup_span_frame.__doc__.format(
    k=SPAN_WINDOW_TOKENS
)


def q_dedup_longest_span(spark, sf_dir):
    """Gate for ``longest_dup_span_frame`` over the documents table
    (docstring and 100 TB notes there)."""
    return longest_dup_span_frame(
        spark, _spread(spark, _t(spark, sf_dir, "documents"))
    )


LEARNOPS_ORACLES["dedup_longest_span"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents
),
w AS MATERIALIZED (
  SELECT doc_id,
         unnest(range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})) AS pos,
         unnest([array_to_string(__toks[i:i+{SPAN_WINDOW_TOKENS - 1}], ' ')
                 FOR i IN range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})]) AS w
  FROM toks WHERE len(__toks) >= {SPAN_WINDOW_TOKENS}
),
m AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS grp
  FROM m
),
runs AS MATERIALIZED (
  SELECT doc_a, doc_b, diag, grp,
         count(*) AS run, min(pa) AS sa, min(pb) AS sb
  FROM isl GROUP BY 1, 2, 3, 4
),
best AS MATERIALIZED (
  SELECT doc_a, doc_b, max(run) AS max_run FROM runs GROUP BY 1, 2
),
top AS MATERIALIZED (
  SELECT r.doc_a, r.doc_b,
         r.run + {SPAN_WINDOW_TOKENS - 1} AS span_len_tokens,
         count(*) AS n_max_spans,
         min(r.sa) AS start_a
  FROM runs r JOIN best b
    ON r.doc_a = b.doc_a AND r.doc_b = b.doc_b AND r.run = b.max_run
  GROUP BY 1, 2, 3
)
SELECT t.doc_a, t.doc_b, t.span_len_tokens, t.n_max_spans, t.start_a,
       array_to_string(
         k.__toks[t.start_a:t.start_a + t.span_len_tokens - 1], ' '
       ) AS span_text
FROM top t JOIN toks k ON k.doc_id = t.doc_a
"""
LEARNOPS_QUERIES["dedup_longest_span"] = q_dedup_longest_span


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — the sparse-anchor scale path of the
# substring-dedup family
# ---------------------------------------------------------------------------

WINNOW_WINDOW = 4        # w: consecutive k-gram hashes per winnowing window
WINNOW_POS_BITS = 20     # positions per doc bounded by 2^20 (see docstring)
WINNOW_MIN_SHARED = 2    # pair gate: shared fingerprint floor

# rightmost-min encoding: min over the window of h·2^B + (2^B−1−pos)
# selects the smallest hash, ties broken toward the LARGEST pos — the
# standard winnowing tie rule — in ONE bigint min() both engines share.
_WINNOW_COMBINED = (
    f"wh * {1 << WINNOW_POS_BITS} + ({(1 << WINNOW_POS_BITS) - 1} - pos)"
)


def _winnow_selected(spark, sf_dir) -> DataFrame:
    """(doc_id, pos, fh): the winnowed fingerprint SET per document —
    for every window of w={w} consecutive k-gram (k={k}) hashes, the
    minimum hash (rightmost on ties), deduplicated. This is
    Schleimer–Wilkerson–Aiken winnowing (MOSS, SIGMOD'03): the
    guarantee is that any shared token span of length ≥ w+k−1 = {t}
    contributes at least one IDENTICAL selected fingerprint to both
    documents, at an expected density of 2/(w+1) of positions — i.e.
    the sub-linear ANCHOR set the exact longest-span operator's
    docstring promises at 100 TB (join the sparse fingerprints, then
    extend-verify only the anchored pairs).

    100 TB notes: one posexplode (linear), one per-doc window min with
    a w−1-row frame — partition key doc_id is high-cardinality, so the
    window is already parallel and the frame is O(w) per row; the
    rightmost-min tie rule rides INSIDE the single bigint min via the
    h·2^B + (2^B−1−pos) encoding (no argmax re-join). Positions are
    bounded at 2^{bits} per document by the encoding — a million
    k-grams per doc; longer docs should chunk first (chunk_documents),
    which winnowing composes with."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return _winnow_selected_frame(d, SPAN_WINDOW_TOKENS)


def _gram_windows_spark(kk: int) -> str:
    """Spark SQL expr for all kk-token window strings of __toks
    (same shape as _SPAN_WINDOWS_SPARK, parameterized gram size)."""
    return (
        f"CASE WHEN size(__toks) >= {kk} THEN "
        f"transform(sequence(1, size(__toks) - {kk - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {kk}))) "
        "ELSE array() END"
    )


def _winnow_selected_frame(d: DataFrame, gram_tokens: int) -> DataFrame:
    """Winnowed fingerprint set over ``gram_tokens``-gram hashes of a
    documents frame — the parameterized core of `_winnow_selected`
    (docstring and guarantee there). The anchored longest-span
    operator calls this with gram_tokens = k − w + 1 so the
    w+k'−1 guarantee threshold lands exactly at SPAN_WINDOW_TOKENS.

    r12-opt (guide §2.4 "remove shuffles outright" / §4.1 higher-order
    functions): selection is MAP-ONLY. The original shape posexploded
    every k'-gram hash, paid one keyed Exchange + sort for the per-doc
    sliding min (Window over doc_id) and a second full shuffle for the
    row-level ``distinct()``. Winnowing is a per-document computation
    over consecutive positions, so both now happen inside array
    expressions on the scan task: the combined h·2^B + (2^B−1−pos)
    encoding is built per element (``transform`` with index), the
    sliding min is ``array_min(slice(...))`` per window start (O(w)
    per position — the same work the window frame did), and the
    per-doc dedup is ``array_distinct`` (equivalent to the old global
    distinct because doc_id was part of the key). Only the SELECTED
    fingerprints (density ≈ 2/(w+1)) are exploded to rows; zero keyed
    exchanges remain. explode_outer per the doc_shingles_df note —
    plain explode infers a size()>0 filter that re-evaluates the whole
    array chain a second time."""
    b = 1 << WINNOW_POS_BITS
    mask = b - 1
    w = WINNOW_WINDOW
    h_g = "CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"
    cmb_arr = (
        f"transform({_gram_windows_spark(gram_tokens)}, "
        f"(g, i) -> {h_g} * {b} + {mask} - (CAST(i AS BIGINT) + 1))"
    )
    sel_arr = (
        f"CASE WHEN size(__cmb) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(__cmb) - {w - 1}), "
        f"i -> array_min(slice(__cmb, i, {w})))) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .withColumn("__cmb", F.expr(cmb_arr))
        .select("doc_id", F.explode_outer(F.expr(sel_arr)).alias("__s"))
        .filter(F.col("__s").isNotNull())
        .select(
            "doc_id",
            (F.lit(mask) - F.col("__s") % F.lit(b)).alias("pos"),
            F.expr(f"__s div {b}").alias("fh"),
        )
    )


_winnow_selected.__doc__ = _winnow_selected.__doc__.format(
    w=WINNOW_WINDOW,
    k=SPAN_WINDOW_TOKENS,
    t=WINNOW_WINDOW + SPAN_WINDOW_TOKENS - 1,
    bits=WINNOW_POS_BITS,
)


def q_winnow_fingerprints(spark, sf_dir):
    """Per-doc WINNOWED FINGERPRINT profile: how many k-gram positions,
    how many selected fingerprints, their order-independent checksum,
    and the selection density (exact floor-ppm — expected ≈ 2/(w+1)).
    The per-(pos, hash) set itself is pinned by `sum_fh`/`n_fps`
    (order-independent exact integers), keeping the gate compact while
    any selection-rule drift (tie direction, frame bounds, dedup)
    breaks the hash. Docs shorter than k+w−1 tokens rejoin with zeros
    via the spine (the substring_spans contract)."""
    sel = _winnow_selected(spark, sf_dir)
    per = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum("fh").alias("sum_fh"),
    )
    k = SPAN_WINDOW_TOKENS
    d = _t(spark, sf_dir, "documents")
    n_kg = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.greatest(
                F.size("__toks") - F.lit(k - 1), F.lit(0)
            ).cast("long").alias("n_kgrams"),
        )
    )
    return (
        n_kg.join(per.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("sum_fh", F.lit(0)).cast("long").alias("sum_fh"),
            # CASE guards the divisor: ANSI div by a 0 n_kgrams throws
            F.coalesce(
                F.expr(
                    "CASE WHEN n_kgrams > 0"
                    " THEN n_fps * 1000000 div n_kgrams END"
                ),
                F.lit(0),
            ).alias("density_ppm"),
        )
    )


def q_dedup_winnowed_pairs(spark, sf_dir):
    """WINNOWED CANDIDATE PAIRS: documents sharing ≥ {m} selected
    fingerprint VALUES — the sparse-anchor candidate join of the
    substring family. By the winnowing guarantee every pair sharing a
    span ≥ w+k−1 tokens shares ≥ 1 fingerprint, so this join over the
    ~2/(w+1)-density anchor set is the 100 TB precursor to
    `dedup_longest_span`'s exact extend-verify (tested: every
    longest-span pair with span_len ≥ w+k−1 appears here at floor 1).

    100 TB notes: the join runs on DISTINCT (doc, fh) — density-thinned
    anchors, Σ df² over a set ~2/(w+1) the size of the full k-gram
    relation; both sides corpus-derived, pinned shuffle_hash."""
    sel = _winnow_selected(spark, sf_dir).select("doc_id", "fh").distinct()
    a = sel.select(F.col("doc_id").alias("doc_a"), "fh")
    b = sel.select(F.col("doc_id").alias("doc_b"), "fh")
    return (
        a.join(b.hint("shuffle_hash"), "fh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


q_dedup_winnowed_pairs.__doc__ = q_dedup_winnowed_pairs.__doc__.format(
    m=WINNOW_MIN_SHARED
)

_WINNOW_SEL_DUCK = f"""
toks AS MATERIALIZED (
  SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents
),
wh AS MATERIALIZED (
  SELECT doc_id,
         unnest(range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})) AS pos,
         unnest([{H_SQL.format(x=f"array_to_string(__toks[i:i+{SPAN_WINDOW_TOKENS - 1}], ' ')")}
                 FOR i IN range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})]) AS wh
  FROM toks WHERE len(__toks) >= {SPAN_WINDOW_TOKENS}
),
framed AS (
  SELECT doc_id,
         min({_WINNOW_COMBINED}) OVER w AS __cmb,
         count(*) OVER w AS __nf
  FROM wh
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING)
),
sel AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         {(1 << WINNOW_POS_BITS) - 1} - __cmb % {1 << WINNOW_POS_BITS} AS pos,
         __cmb // {1 << WINNOW_POS_BITS} AS fh
  FROM framed WHERE __nf = {WINNOW_WINDOW}
)
"""

LEARNOPS_ORACLES["winnow_fingerprints"] = f"""
WITH {_WINNOW_SEL_DUCK},
per AS (
  SELECT doc_id, count(*) AS n_fps, sum(fh) AS sum_fh
  FROM sel GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(__toks) - {SPAN_WINDOW_TOKENS - 1}, 0) AS BIGINT)
         AS n_kgrams,
       CAST(COALESCE(n_fps, 0) AS BIGINT) AS n_fps,
       CAST(COALESCE(sum_fh, 0) AS BIGINT) AS sum_fh,
       COALESCE(CASE WHEN greatest(len(__toks) - {SPAN_WINDOW_TOKENS - 1}, 0) > 0
            THEN n_fps * 1000000 // greatest(len(__toks) - {SPAN_WINDOW_TOKENS - 1}, 0)
            END, 0) AS density_ppm
FROM toks t LEFT JOIN per USING (doc_id)
"""
LEARNOPS_QUERIES["winnow_fingerprints"] = q_winnow_fingerprints

LEARNOPS_ORACLES["dedup_winnowed_pairs"] = f"""
WITH {_WINNOW_SEL_DUCK},
dsel AS MATERIALIZED (SELECT DISTINCT doc_id, fh FROM sel)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fps
FROM dsel a JOIN dsel b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""
LEARNOPS_QUERIES["dedup_winnowed_pairs"] = q_dedup_winnowed_pairs


# ---------------------------------------------------------------------------
# ANCHORED exact longest duplicated span — winnowed anchors compose
# into the dense extend-verify (the 100 TB path its docstrings promise)
# ---------------------------------------------------------------------------

# Anchor gram size: k' = k − w + 1, so the winnowing guarantee
# threshold w + k' − 1 lands EXACTLY at SPAN_WINDOW_TOKENS — every doc
# pair sharing a token span ≥ k (i.e. every pair the dense operator
# outputs) is guaranteed to share at least one selected anchor
# fingerprint. This is what makes the anchored operator EXACT, not a
# recall-bounded approximation: with k'-gram anchors, a span of
# length k contains k − k' + 1 = w consecutive aligned k'-grams — one
# full winnowing window inside the shared region in BOTH documents,
# and winnowing selects the same (hash, rightmost-tie) minimum from
# identical windows.
ANCHOR_GRAM_TOKENS = SPAN_WINDOW_TOKENS - WINNOW_WINDOW + 1


def _anchored_doc_ids(d: DataFrame) -> DataFrame:
    """(doc_id): documents holding at least one winnowed
    ANCHOR_GRAM_TOKENS-gram fingerprint that some OTHER document also
    holds — the docs that can possibly appear in the longest-span
    output. Computed WITHOUT materializing anchor pairs: distinct
    (doc, fh) → fingerprints with doc-frequency ≥ 2 → semi-join back.
    The Σ df² pair join over anchors never happens; the anchor stage
    only decides which window rows may enter the extend join."""
    sel = (
        _winnow_selected_frame(d, ANCHOR_GRAM_TOKENS)
        .select("doc_id", "fh")
        .distinct()
    )
    sel = sel.localCheckpoint(eager=False)  # one winnow pass, two uses
    dup_fh = (
        sel.groupBy("fh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("fh")
    )
    return (
        sel.join(dup_fh.hint("shuffle_hash"), "fh", "left_semi")
        .select("doc_id")
        .distinct()
    )


def longest_dup_span_anchored_frame(spark, d: DataFrame) -> DataFrame:
    """EXACT longest duplicated token span — identical output contract
    to `longest_dup_span_frame` (same oracle), computed the way the
    dense operator's own docstring says 100 TB requires: winnowed
    sparse anchors first, the Σ df² window equi-join only over the
    ANCHORED subset of documents.

    Pipeline: (1) winnow k'-gram fingerprints (k' = k − w + 1 =
    {kp}, density ≈ 2/(w+1)) and keep docs whose fingerprint set
    intersects any other doc's — an EXACT superset of all docs in the
    dense output, by the guarantee derived at ANCHOR_GRAM_TOKENS;
    (2) left-semi the positioned k-window relation down to those
    docs; (3) the SAME window-STRING equi-join + diagonal
    gaps-and-islands extend as the dense operator (`_extend_spans`).
    False-positive anchor docs (random shared k'-grams or 32-bit hash
    collisions) only add window rows that the collision-free STRING
    join then discards — they cost work, never correctness.

    100 TB notes: the dense operator joins the FULL window relation —
    Σ df² over every 8-gram in the corpus. Here the window relation is
    first thinned to anchored docs: at a realistic duplicate rate
    (~1% of docs in any near-dup relation) the join mass drops by
    ~10⁴×, while winnowing itself is one linear posexplode + one O(w)
    per-row window min per doc. The semi-join key doc_id is
    high-cardinality; anchor df≥2 filtering is a map-side-combinable
    count. The finer pair-level restriction (fetch rows per candidate
    PAIR) is deliberately NOT taken: pair materialization at anchor
    granularity is itself Σ df² over anchors, and the extend join
    re-derives exactly the matched pairs anyway."""
    toks = d.withColumn("__toks", F.expr(TOKENS_SPARK))
    adocs = _anchored_doc_ids(d)
    w = _positioned_windows(toks).join(
        adocs.hint("shuffle_hash"), "doc_id", "left_semi"
    )
    w = w.localCheckpoint(eager=False)  # one tokenize+winnow, two sides
    wa = w.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "w"
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "w"
    )
    m = wa.join(wb.hint("shuffle_hash"), "w").filter(
        F.col("doc_a") < F.col("doc_b")
    )
    return _extend_spans(m, toks)


longest_dup_span_anchored_frame.__doc__ = (
    longest_dup_span_anchored_frame.__doc__.format(kp=ANCHOR_GRAM_TOKENS)
)


def q_dedup_longest_span_anchored(spark, sf_dir):
    """Gate for `longest_dup_span_anchored_frame` — hash-matched
    against the SAME DuckDB oracle as `dedup_longest_span`: the
    anchored operator is exact, so the two gates share one oracle."""
    return longest_dup_span_anchored_frame(
        spark, _spread(spark, _t(spark, sf_dir, "documents"))
    )


LEARNOPS_ORACLES["dedup_longest_span_anchored"] = LEARNOPS_ORACLES[
    "dedup_longest_span"
]
LEARNOPS_QUERIES["dedup_longest_span_anchored"] = (
    q_dedup_longest_span_anchored
)


# ---------------------------------------------------------------------------
# Streaming winnowed dedup — the INGEST-TIME form of the anchor family
# ---------------------------------------------------------------------------


def q_streaming_winnowed_dedup(spark, sf_dir):
    """STREAMING WINNOWED DEDUP: documents arrive as doc_id-ordered
    micro-batches; each batch winnows its docs (k={k}, w={w}) and flags
    every doc sharing ≥1 selected fingerprint with ANY earlier doc —
    earlier batch via the accumulated fingerprint store, earlier
    in-batch via min-doc-id firsts — then appends its UNSEEN
    fingerprints to the store. This is the ingest-path twin of
    `dedup_winnowed_pairs`/`dedup_longest_span_anchored`: at 100 TB
    the arrival-time question is "does this doc anchor-match anything
    already ingested?", and the winnowed store answers it with
    ~2/(w+1) the state of the full-window novelty ledger
    (`streaming_novelty_incremental`) while keeping the MOSS
    guarantee: any shared span ≥ w+k−1 tokens WILL anchor-hit.

    Because the stream is doc_id-ordered, the final per-doc result
    must equal the batch semantics exactly ("fingerprint first held by
    a smaller doc_id") — the gate's oracle is that batch SQL, so the
    incremental state transition is proven lossless, same discipline
    as the novelty gate.

    100 TB notes: per-batch work is batch-fps × one left join against
    the store plus one window min over fh; the store is append-only
    DISTINCT hashes partitioned by batch (``streaming/ledger.py``)."""
    from ..streaming.ledger import first_seen_ledger

    def fingerprints(batch_df):
        # dedup by fh-partitioning so the ledger's join and window
        # reuse this Exchange
        return (
            _winnow_selected_frame(batch_df, SPAN_WINDOW_TOKENS)
            .select("doc_id", "fh")
            .repartition("fh")
            .dropDuplicates(["doc_id", "fh"])
        )

    def hits(j):
        return j.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(
                (
                    F.coalesce(F.col("__prior"), F.lit(False))
                    | (F.col("__first") < F.col("doc_id"))
                ).cast("int")
            ).alias("n_anchor_hits"),
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = first_seen_ledger(
        spark, "streaming_winnowed_dedup", docs, "doc_id", "fh",
        fingerprints, hits,
    )
    return (
        docs.select("doc_id")
        .join(res, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("n_anchor_hits", F.lit(0))
            .cast("long")
            .alias("n_anchor_hits"),
            (F.coalesce("n_anchor_hits", F.lit(0)) > 0).alias(
                "dup_candidate"
            ),
        )
    )


q_streaming_winnowed_dedup.__doc__ = q_streaming_winnowed_dedup.__doc__.format(
    k=SPAN_WINDOW_TOKENS, w=WINNOW_WINDOW
)

# lossless incremental transition: the BATCH semantics as the oracle —
# a fingerprint is a hit iff a smaller doc_id holds it anywhere in the
# corpus (the stream is doc_id-ordered, so "earlier" == smaller id)
LEARNOPS_ORACLES["streaming_winnowed_dedup"] = f"""
WITH {_WINNOW_SEL_DUCK},
dsel AS MATERIALIZED (SELECT DISTINCT doc_id, fh FROM sel),
firsts AS (SELECT fh, min(doc_id) AS first_doc FROM dsel GROUP BY fh),
per AS (
  SELECT d.doc_id, count(*) AS n_fps,
         SUM(CASE WHEN f.first_doc < d.doc_id THEN 1 ELSE 0 END) AS n_hits
  FROM dsel d JOIN firsts f USING (fh)
  GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(COALESCE(n_fps, 0) AS BIGINT) AS n_fps,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_anchor_hits,
       COALESCE(n_hits, 0) > 0 AS dup_candidate
FROM documents LEFT JOIN per USING (doc_id)
"""
LEARNOPS_QUERIES["streaming_winnowed_dedup"] = q_streaming_winnowed_dedup


# ---------------------------------------------------------------------------
# Unigram-LM perplexity bucketing (CCNet head / middle / tail)
# ---------------------------------------------------------------------------


def q_unigram_perplexity_buckets(spark, sf_dir):
    """CCNet-STYLE PERPLEXITY BUCKETING: score every doc by its mean
    negative log-likelihood under the corpus unigram MLE model, then
    split each language into head/middle/tail thirds by that score —
    the standard LM-filtering split (keep head+middle, drop tail).

    Determinism: logp is a ratio of exact integer counts; ln() — the
    only libm call — is rounded at 10 dp per INSTANCE, then the
    per-doc mean accumulates in exact decimal (doc_lm_score
    discipline). Thirds are exact SQL NTILE(3) semantics per language,
    total-order deterministic via the (nll, doc_id) tie-break.

    100 TB: the unigram model is CORPUS-SCALED (Heaps' law) → pinned
    `shuffle_hash`, never an estimate-driven broadcast (the
    token_rarity_score sf10 lesson). The per-language thirds come from
    ``operators.ranking.grouped_ntile`` — a plain
    PARTITION BY lang window would put each language's ENTIRE corpus
    on one task (5 languages = 5 tasks at any scale); grouped_ntile
    range-partitions on (lang, nll, doc_id) and reassembles exact
    ranks from O(P·|langs|) driver metadata, so the sort stays as
    parallel as the cluster."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", "lang", F.explode("__toks").alias("t"))
    )
    toks = toks.localCheckpoint(eager=False)  # model + probe share the pass
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf")).hint(
        "shuffle_hash"
    )
    total = freq.agg(F.sum("tf").cast("double").alias("n"))
    logp = F.round(F.log(F.col("tf").cast("double") / total.scalar()), 10)
    scored = (
        toks.join(freq, "t")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                -F.sum(logp.cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("nll")
        )
    )
    from ..operators.ranking import grouped_ntile

    tiled = grouped_ntile(
        scored, 3, ["lang"], ["nll", "doc_id"], bucket_col="__b"
    )
    b = F.col("__b")
    return tiled.select(
        "doc_id",
        "lang",
        "nll",
        F.when(b == 1, F.lit("head"))
        .when(b == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


LEARNOPS_ORACLES["unigram_perplexity_buckets"] = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({TOKENS_DUCK}) AS t FROM documents
),
freq AS (SELECT t, count(*) AS tf FROM toks GROUP BY t),
total AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM freq),
scored AS (
  SELECT doc_id, lang,
         round(-CAST(CAST(SUM(CAST(round(ln(CAST(tf AS DOUBLE) / total.n), 10)
                                   AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               / count(*), 6) AS nll
  FROM toks JOIN freq USING (t) CROSS JOIN total
  GROUP BY doc_id, lang
),
ranked AS (
  SELECT doc_id, lang, nll,
         ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS b
  FROM scored
)
SELECT doc_id, lang, nll,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""
LEARNOPS_QUERIES["unigram_perplexity_buckets"] = q_unigram_perplexity_buckets


# ---------------------------------------------------------------------------
# Declared-target domain mixture resampling
# ---------------------------------------------------------------------------

# Declared target mixture (permille of the output): boost four named
# sources to 10% each, spread the remaining 60% uniformly. The rates
# below derive from DATA (current counts), not just these constants —
# the two-phase "measure shares → derive rates → deterministic-hash
# subsample" shape of DoReMi-style mixture rebalancing.
MIX_BOOST_SOURCES = "('src0','src1','src2','src3')"
MIX_BOOST_PPM = 100_000        # 10% target share each
MIX_REST_PPM = 37_500          # 60% / 16 remaining sources


def q_domain_mixture_sample(spark, sf_dir):
    """DOMAIN-MIXTURE RESAMPLING: given a declared target mixture over
    sources, measure each source's actual share, derive a keep-rate
    rate_s = min(1, target_share·N / count_s) in EXACT integer
    arithmetic (ppm), and subsample deterministically by content hash —
    rerun-stable, engine-portable, auditable (contrast rand()).

    100 TB: per-source counts are a bounded-domain aggregate (sources
    are an enumerable registry, not corpus-scaled) → the rate table is
    an EXPLICIT broadcast — the allowed broadcast class under the r8
    corpus-broadcast sweep; the filter itself runs map-side in the scan
    stage; output is a per-source rollup, map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    # corpus total as a scalar subquery (embeds once, no 1-row join)
    tot = d.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    target_ppm = (
        F.when(F.expr(f"source IN {MIX_BOOST_SOURCES}"), F.lit(MIX_BOOST_PPM))
        .otherwise(F.lit(MIX_REST_PPM))
    )
    # keep_ppm = min(1e6, target_ppm·N div count_s): EXACT bigint
    # arithmetic end to end — no float enters the rate path
    rates = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_in"))
        .withColumn("__N", tot.scalar())
        .withColumn("__t", target_ppm.cast("bigint"))
        .withColumn(
            "keep_ppm",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.expr("(__t * __N) div n_in"),
            ),
        )
        .select("source", "n_in", "keep_ppm")
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "keep_ppm")), "source")
        .withColumn(
            "__b",
            F.pmod(
                _h(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                F.lit(1_000_000),
            ),
        )
        .filter(F.col("__b") < F.col("keep_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "keep_ppm",
        )
    )


_SPAN_POS_WINDOWS_SPARK = (
    f"CASE WHEN size(__toks) >= {SPAN_WINDOW_TOKENS} THEN "
    f"transform(sequence(1, size(__toks) - {SPAN_WINDOW_TOKENS - 1}), "
    f"i -> struct(i AS pos, concat_ws(' ', slice(__toks, i, "
    f"{SPAN_WINDOW_TOKENS})) AS w)) "
    "ELSE array() END"
)
_SPAN_POS_WINDOWS_DUCK = (
    f"CASE WHEN len(__toks) >= {SPAN_WINDOW_TOKENS} THEN "
    f"[{{'pos': i, 'w': array_to_string(__toks[i:i+{SPAN_WINDOW_TOKENS - 1}],"
    f" ' ')}} FOR i IN range(1, len(__toks) - {SPAN_WINDOW_TOKENS - 2})] "
    "ELSE [] END"
)


def q_dedup_span_extents(spark, sf_dir):
    """MAXIMAL DUPLICATED-SPAN EXTENTS: merge runs of consecutive
    duplicated window positions into maximal (start, end) token spans
    per document — the actual output shape of suffix-array substring
    dedup ("cut these spans out of the training set"), where
    dedup_substring_spans only reports the per-doc fraction.

    The merge is the gaps-and-islands pattern: among a doc's
    duplicated positions ordered by pos, island id = pos − row_number
    is constant exactly along consecutive runs; one keyed aggregate
    per island yields the span. The row_number window partitions by
    doc_id — HIGH-cardinality (one doc's dup positions per task), so
    unlike a global rank this parallelizes for free at any corpus
    size.

    100 TB: same linear explode + pinned-shuffle_hash dup set as
    dedup_substring_spans; the islands window shuffles by doc_id once;
    spans per doc are bounded by positions. Output: one row per
    maximal span with its token extent [span_start, span_end]."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    pw = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.expr(_SPAN_POS_WINDOWS_SPARK)).alias("pw"))
        .select("doc_id", F.col("pw.pos").alias("pos"), _h(F.col("pw.w")).alias("wh"))
    )
    pw = pw.localCheckpoint(eager=False)  # dup-set build + probe share it
    dup = (
        pw.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
        .hint("shuffle_hash")
    )
    from pyspark.sql import Window

    hits = pw.join(dup, "wh", "left_semi")
    isle = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    return (
        hits.withColumn("__isle", isle)
        .groupBy("doc_id", "__isle")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SPAN_WINDOW_TOKENS - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_windows",
        )
    )


LEARNOPS_ORACLES["dedup_span_extents"] = f"""
WITH pw AS (
  SELECT doc_id, u.pw['pos'] AS pos, {H_SQL.format(x="u.pw['w']")} AS wh
  FROM (SELECT doc_id, {_SPAN_POS_WINDOWS_DUCK} AS pws
        FROM (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents)),
       unnest(pws) AS u(pw)
),
dup AS (SELECT wh FROM (SELECT wh, count(DISTINCT doc_id) AS nd
                        FROM pw GROUP BY wh) WHERE nd >= 2),
hits AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isle
  FROM pw WHERE wh IN (SELECT wh FROM dup)
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + {SPAN_WINDOW_TOKENS - 1} AS span_end,
       max(pos) + {SPAN_WINDOW_TOKENS - 1} - min(pos) + 1 AS span_tokens,
       count(*) AS n_windows
FROM hits
GROUP BY doc_id, isle
"""
LEARNOPS_QUERIES["dedup_span_extents"] = q_dedup_span_extents


# ---------------------------------------------------------------------------
# Interpolated bigram-unigram LM scoring (Jelinek-Mercer)
# ---------------------------------------------------------------------------

JM_LAMBDA = 0.5  # exact 2^-1 interpolation weight


def q_doc_lm_interpolated(spark, sf_dir):
    """JELINEK-MERCER INTERPOLATED LM SCORE: per-doc mean log of
    p̂(w2|w1) = λ·p_bigram(w2|w1) + (1−λ)·p_unigram(w2) — the backoff
    smoothing that separates doc_lm_score's raw-MLE bigram (which
    assigns nothing to unseen continuations) from a usable LM filter.
    λ = 0.5 exactly (power of two).

    Determinism: both component probabilities are ratios of exact
    integer counts composed in IEEE doubles with a pinned tree
    (λ·a + (1−λ)·b, left-assoc); ln — the only libm call — rounds at
    10 dp per INSTANCE; per-doc mean accumulates in exact decimal
    (doc_lm_score discipline).

    100 TB: bigram AND unigram models come from one exploded bigram
    pass (the unigram table is the bigram table's w2 rollup — no
    second corpus scan); both are CORPUS-SCALED → pinned
    `shuffle_hash`; per-doc rollup map-side combinable."""
    d = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    inst = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(__toks) >= 2 THEN "
                    "transform(sequence(0, size(__toks) - 2), "
                    "i -> struct(__toks[i] AS w1, __toks[i+1] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    inst = inst.localCheckpoint(eager=False)  # models + probe share the pass
    c12 = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c12 = c12.localCheckpoint(eager=False)  # feeds BOTH rollups + the join
    c1 = c12.groupBy(F.col("w1").alias("k1")).agg(F.sum("c12").alias("c1"))
    cw = c12.groupBy(F.col("w2").alias("k2")).agg(F.sum("c12").alias("cw"))
    ntot = cw.agg(F.sum("cw").cast("double").alias("n"))
    p_bg = F.col("c12").cast("double") / F.col("c1").cast("double")
    p_ug = F.col("cw").cast("double") / ntot.scalar()
    logp = F.round(
        F.log(F.lit(JM_LAMBDA) * p_bg + F.lit(1.0 - JM_LAMBDA) * p_ug), 10
    )
    scored = (
        inst.join(c12.hint("shuffle_hash"), ["w1", "w2"])
        .join(c1.hint("shuffle_hash"), F.col("w1") == F.col("k1"))
        .join(cw.hint("shuffle_hash"), F.col("w2") == F.col("k2"))
        .select("doc_id", logp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("lp").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("lm_score"),
    )


LEARNOPS_ORACLES["doc_lm_interpolated"] = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
inst AS (
  SELECT doc_id, u.bg['w1'] AS w1, u.bg['w2'] AS w2
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 2 THEN
             [{{'w1': toks[i], 'w2': toks[i+1]}} FOR i IN range(1, len(toks))]
           ELSE [] END AS bgs
    FROM toked
  ), unnest(bgs) AS u(bg)
),
c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
c1 AS (SELECT w1 AS k1, sum(c12) AS c1 FROM c12 GROUP BY 1),
cw AS MATERIALIZED (SELECT w2 AS k2, sum(c12) AS cw FROM c12 GROUP BY 1),
ntot AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM cw),
scored AS (
  SELECT doc_id,
         round(ln({JM_LAMBDA} * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
                  + {1.0 - JM_LAMBDA} * (CAST(cw AS DOUBLE) / ntot.n)), 10)
           AS lp
  FROM inst
  JOIN c12 USING (w1, w2)
  JOIN c1 ON c1.k1 = inst.w1
  JOIN cw ON cw.k2 = inst.w2
  CROSS JOIN ntot
)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(CAST(SUM(CAST(lp AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / count(*), 8) AS lm_score
FROM scored
GROUP BY doc_id
"""
LEARNOPS_QUERIES["doc_lm_interpolated"] = q_doc_lm_interpolated


# ---------------------------------------------------------------------------
# Token-budget selection (best docs until the budget is spent)
# ---------------------------------------------------------------------------

TOKEN_BUDGET_PCT = 20  # keep the best docs until 20% of corpus tokens


def q_token_budget_selection(spark, sf_dir):
    """TOKEN-BUDGET SELECTION: "give the trainer the BEST 20% of
    tokens" — rank documents by the fitted quality-classifier score
    (best first, doc_id tie-break), take the running token total in
    that order, keep documents while it stays within the budget. The
    composition of two fitted/derived primitives: the classifier
    (memoized fit) supplies the order; ``global_prefix_sum`` supplies
    the exact running total WITHOUT a single-partition window (range
    sort + per-partition offsets — the distributed scan primitive).

    Budget and running totals are exact BIGINT arithmetic
    (budget = total·20 div 100); the only double is the order key,
    which both engines quantized identically at 6 dp.

    100 TB: scoring is map-only; the prefix sum is one range shuffle;
    the filter is a scan-stage comparison against an embedded scalar."""
    from ..operators.ranking import global_prefix_sum

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    p = _qc_p_col(w)
    scored = feats.select(
        "doc_id",
        F.expr("CAST(x1 * 100.0 AS BIGINT)").alias("n_tokens"),
        p.alias("p_quality"),
    ).withColumn("__ord", -F.col("p_quality"))
    summed = global_prefix_sum(
        scored, ["__ord", "doc_id"], "n_tokens", out_col="cum_tokens"
    )
    total = scored.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    # budget = (total·pct) div 100 — exact bigint, no float in the cap
    budget = F.expr(f"(__t * {TOKEN_BUDGET_PCT}) div 100")
    return (
        summed.withColumn("__t", total.scalar())
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "p_quality", "cum_tokens")
    )


LEARNOPS_ORACLES["token_budget_selection"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT doc_id, CAST(x1 * 100.0 AS BIGINT) AS n_tokens,
         {_QC_P_FINAL} AS p_quality
  FROM qf CROSS JOIN w{QC_ITERS} w
),
summed AS (
  SELECT doc_id, n_tokens, p_quality,
         SUM(n_tokens) OVER (ORDER BY -p_quality, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM scored
),
tot AS (SELECT sum(n_tokens) AS t FROM scored)
SELECT doc_id, n_tokens, p_quality, cum_tokens
FROM summed CROSS JOIN tot
WHERE cum_tokens <= (tot.t * {TOKEN_BUDGET_PCT}) // 100
"""
)
LEARNOPS_QUERIES["token_budget_selection"] = q_token_budget_selection


# ---------------------------------------------------------------------------
# Training shard manifest (deterministic shuffle-and-shard)
# ---------------------------------------------------------------------------

SHARD_COUNT = 16


def q_training_shard_manifest(spark, sf_dir):
    """TRAINING SHARD MANIFEST: the last step before the trainer —
    deterministically SHUFFLE the corpus and split it into shards,
    emitting (doc, shard, position) so any engine can materialize
    byte-identical shard files. Shard = content hash mod S; order
    within a shard = an independent second hash (so shard assignment
    and shuffle order are uncorrelated), ties broken by doc_id.

    The intra-shard position is ``grouped_rank`` — shards are a
    LOW-CARDINALITY group (S=16 at any corpus size), so a plain
    PARTITION BY shard row_number would collapse each shard onto one
    task; grouped_rank keeps the sort as parallel as the cluster and
    reassembles exact positions from O(P·S) driver metadata.

    100 TB: hash + mod are scan-stage map work; the rank is one range
    shuffle; writing the actual shards is then a partitionBy(shard)
    sorted write. Rerun-stable and auditable — the manifest IS the
    shuffle."""
    from ..operators.ranking import grouped_rank

    d = _t(spark, sf_dir, "documents").select("doc_id")
    frame = d.select(
        "doc_id",
        F.pmod(
            _h(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            F.lit(SHARD_COUNT),
        ).alias("shard"),
        _h(F.concat(F.lit("order:"), F.col("doc_id").cast("string"))).alias(
            "__h2"
        ),
    )
    ranked, _ = grouped_rank(frame, ["shard"], ["__h2", "doc_id"], rank_col="pos")
    return ranked.select("doc_id", "shard", "pos")


LEARNOPS_ORACLES["training_shard_manifest"] = f"""
WITH s AS (
  SELECT doc_id,
         {H_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")}
           % {SHARD_COUNT} AS shard,
         {H_SQL.format(x="'order:' || CAST(doc_id AS VARCHAR)")} AS h2
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS pos
FROM s
"""
LEARNOPS_QUERIES["training_shard_manifest"] = q_training_shard_manifest


# ---------------------------------------------------------------------------
# Streaming classifier filter (offline fit → online score)
# ---------------------------------------------------------------------------


def q_streaming_quality_filter(spark, sf_dir):
    """§2.9 STREAMING CLASSIFIER FILTER: fit the quality classifier
    OFFLINE on the static corpus, then score and filter the document
    STREAM with the frozen weights — the train-offline/score-online
    deployment shape of classifier-based curation. The scoring stage
    is stateless column arithmetic (no state store, no watermark, no
    shuffle): the highest-throughput class of streaming operator, and
    the weights ride into every micro-batch as literals exactly as a
    broadcast model would.

    Over bounded input the kept set equals the batch score gate
    filtered at p ≥ 0.5, which is what the oracle checks."""
    from .extensions import _run_stream, _stream_table

    w, _ = _qc_train(spark, sf_dir)  # offline fit (batch, cached)
    docs = _stream_table(spark, sf_dir, "documents", "streaming_quality_filter")
    feats = _qc_feature_frame(docs)
    p = _qc_p_col(w)
    kept = feats.select("doc_id", p.alias("p_quality")).filter(
        F.col("p_quality") >= F.lit(0.5)
    )
    return _run_stream(kept, "append")


LEARNOPS_QUERIES["streaming_quality_filter"] = q_streaming_quality_filter
LEARNOPS_ORACLES["streaming_quality_filter"] = (
    "WITH "
    + _qc_train_ctes()
    + f"""
SELECT doc_id, {_QC_P_FINAL} AS p_quality
FROM qf CROSS JOIN w{QC_ITERS} w
WHERE {_QC_P_FINAL} >= 0.5
"""
)


# ---------------------------------------------------------------------------
# Power-iteration PCA over embeddings (distributed spectral op)
# ---------------------------------------------------------------------------

PCA_D = 8          # leading embedding dims the gate decomposes
PCA_SQUARINGS = 16  # A ← A²/‖A²‖_F, 16× → 2^16 effective power steps


def q_embedding_pca_power(spark, sf_dir):
    """POWER-ITERATION PCA: the dominant principal component of the
    embedding cloud — the spectral primitive behind whitening, OOD
    scoring, and spectral-clustering curation. Two distributed passes
    build exact O(d²) driver metadata, then the iteration runs on the
    d×d scatter matrix driver-side:

      1. per-dim mean (one decimal aggregate, d sums);
      2. centered scatter G = Σ (x−μ)(x−μ)ᵀ — ONE aggregate computing
         the d(d+1)/2 upper-triangle entries as exact decimal sums
         (products evaluated in double — FLOAT widens to double
         exactly — then cast decimal(38,15) per INSTANCE, the
         graph_pagerank discipline, so accumulation order cannot move
         any entry);
      3. power iteration by REPEATED SQUARING: A ← A²/‖A²‖_F sixteen
         times (= 2^16 effective power steps — a plain K-step loop
         cannot converge on a near-isotropic cloud whose eigengap is
         tiny; the numpy reference test caught exactly that), then
         v = A·v₀ normalized, λ = vᵀGv against the ORIGINAL scatter.
         Every step is IEEE doubles with a PINNED left-associated
         row-major parse tree — the oracle unrolls the SAME squarings
         as CTEs over its own G and must land on bit-identical
         loadings (sqrt and / are IEEE correctly-rounded everywhere;
         no libm beyond sqrt).

    100 TB: both passes are map-side-combinable aggregates over the
    corpus; nothing row-proportional reaches the driver (d means +
    d(d+1)/2 sums); the iteration itself costs O(d²·iters) scalar
    flops. Sign and value are deterministic (fixed positive init).
    Output: one row per dim with its loading + the shared Rayleigh
    eigenvalue, floor-quantized at 6 dp."""
    mu, v, lam = _pca_fit(spark, sf_dir)
    return spark.createDataFrame(
        [(i, _q6(v[i]), _q6(lam)) for i in range(PCA_D)],
        "dim int, loading double, eigenvalue double",
    )


def _q6(z: float) -> float:
    """floor-scaled 6 dp quantizer (see _qc_p_col rationale)."""
    return math.floor(z * 1e6) / 1e6


# Per-process memo of the fitted component, keyed on the embeddings
# file identity (same discipline as _QC_WEIGHT_CACHE).
_PCA_CACHE: dict[tuple, tuple[list[float], list[float], float]] = {}


def _pca_fit(spark, sf_dir) -> tuple[list[float], list[float], float]:
    """Fit the dominant component; returns (mu, v, lam) — UNquantized
    doubles (gates quantize at output time)."""
    p = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(p)
    key = (p, st.st_mtime_ns, st.st_size)
    hit = _PCA_CACHE.get(key)
    if hit is not None:
        return hit
    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    x = e.select(
        *[
            F.element_at(F.col("embedding"), i + 1)
            .cast("double")
            .alias(f"x{i}")
            for i in range(PCA_D)
        ]
    ).localCheckpoint(eager=True)  # mean + scatter passes share the scan
    n = x.count()
    srow = x.agg(
        *[
            F.round(F.sum(F.col(f"x{i}").cast("decimal(38,15)")), 10).alias(
                f"s{i}"
            )
            for i in range(PCA_D)
        ]
    ).first()
    mu = [float(srow[f"s{i}"]) / n for i in range(PCA_D)]
    aggs = []
    for i in range(PCA_D):
        for j in range(i, PCA_D):
            aggs.append(
                F.round(
                    F.sum(
                        (
                            (F.col(f"x{i}") - F.lit(mu[i]))
                            * (F.col(f"x{j}") - F.lit(mu[j]))
                        ).cast("decimal(38,15)")
                    ),
                    10,
                ).alias(f"g_{i}_{j}")
            )
    grow = x.agg(*aggs).first()
    g = [[0.0] * PCA_D for _ in range(PCA_D)]
    for i in range(PCA_D):
        for j in range(i, PCA_D):
            g[i][j] = g[j][i] = float(grow[f"g_{i}_{j}"])
    # repeated squaring in driver doubles (O(d³) per squaring), same
    # pinned row-major accumulation order as the oracle's CTEs
    def _frob(m: list[list[float]]) -> float:
        sq = 0.0
        for i in range(PCA_D):
            for j in range(PCA_D):
                sq = sq + m[i][j] * m[i][j]
        return math.sqrt(sq)

    f0 = _frob(g)
    a = [[g[i][j] / f0 for j in range(PCA_D)] for i in range(PCA_D)]
    for _ in range(PCA_SQUARINGS):
        b = [[0.0] * PCA_D for _ in range(PCA_D)]
        for i in range(PCA_D):
            for j in range(PCA_D):
                acc = 0.0
                for k in range(PCA_D):
                    acc = acc + a[i][k] * a[k][j]
                b[i][j] = acc
        fb = _frob(b)
        a = [[b[i][j] / fb for j in range(PCA_D)] for i in range(PCA_D)]
    c0 = 1.0 / math.sqrt(float(PCA_D))
    u = []
    for i in range(PCA_D):
        acc = 0.0
        for j in range(PCA_D):
            acc = acc + a[i][j] * c0
        u.append(acc)
    sq = 0.0
    for i in range(PCA_D):
        sq = sq + u[i] * u[i]
    nrm = math.sqrt(sq)
    v = [ui / nrm for ui in u]
    w = []
    for i in range(PCA_D):
        acc = 0.0
        for j in range(PCA_D):
            acc = acc + g[i][j] * v[j]
        w.append(acc)
    lam = 0.0
    for i in range(PCA_D):
        lam = lam + v[i] * w[i]
    _PCA_CACHE[key] = (mu, v, lam)
    return mu, v, lam


def q_embedding_pca_project(spark, sf_dir):
    """PCA PROJECTION + RESIDUAL OOD SCORE: apply the fitted component
    back to every vector in one distributed pass — pc1 = vᵀ(x−μ) (the
    leading whitened coordinate) and resid_sq = ‖x−μ‖² − pc1² (the
    energy OFF the dominant direction — the classic reconstruction-
    error outlier/OOD score a curation pipeline thresholds).

    The fit-apply split mirrors the quality classifier: fit once
    (memoized per corpus file), apply as pure column arithmetic with
    the component as literals — zero joins, zero shuffle; at 100 TB
    the apply is a map-only scan-stage pass. Parse trees pinned
    left-associated, floor-quantized at 6 dp; the oracle recomputes
    the WHOLE fit through the squaring CTEs and projects with the
    identical expression."""
    mu, v, _ = _pca_fit(spark, sf_dir)
    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    x = e.select(
        "vec_id",
        *[
            F.element_at(F.col("embedding"), i + 1)
            .cast("double")
            .alias(f"x{i}")
            for i in range(PCA_D)
        ],
    )
    proj = F.lit(v[0]) * (F.col("x0") - F.lit(mu[0]))
    for i in range(1, PCA_D):
        proj = proj + F.lit(v[i]) * (F.col(f"x{i}") - F.lit(mu[i]))
    ss = (F.col("x0") - F.lit(mu[0])) * (F.col("x0") - F.lit(mu[0]))
    for i in range(1, PCA_D):
        ci = F.col(f"x{i}") - F.lit(mu[i])
        ss = ss + ci * ci
    resid = ss - proj * proj
    fq = lambda c: F.floor(c * F.lit(1000000.0)).cast("double") / F.lit(  # noqa: E731
        1000000.0
    )
    return x.select(
        "vec_id", fq(proj).alias("pc1_score"), fq(resid).alias("resid_sq")
    )


def _pca_oracle(project: bool = False) -> str:
    d = PCA_D
    dims = range(d)
    xcols = "vec_id, " + ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in dims
    )
    scols = ", ".join(
        f"round(SUM(CAST(x{i} AS DECIMAL(38,15))), 10) AS s{i}" for i in dims
    )
    mcols = ", ".join(
        f"{D2D_SQL.format(x=f's{i}')} / nn.n AS m{i}" for i in dims
    )
    gcols = ", ".join(
        f"round({D2D_SQL.format(x=f'SUM(CAST((x{i} - mu.m{i}) * (x{j} - mu.m{j}) AS DECIMAL(38,15)))')}, 10) AS g_{i}_{j}"
        for i in dims
        for j in range(i, d)
    )

    def gref(i: int, j: int) -> str:
        a, b = min(i, j), max(i, j)
        return f"g_{a}_{b}"

    def frob(ref) -> str:
        # row-major (i outer, j inner) — MUST match _frob's loop order
        terms = [f"{ref(i, j)} * {ref(i, j)}" for i in dims for j in dims]
        return "sqrt(" + " + ".join(terms) + ")"

    parts = [
        f"x AS MATERIALIZED (SELECT {xcols} FROM embeddings)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x)",
        f"ms AS (SELECT {scols} FROM x)",
        f"mu AS (SELECT {mcols} FROM ms CROSS JOIN nn)",
        f"cov AS MATERIALIZED (SELECT {gcols} FROM x CROSS JOIN mu)",
        f"f0 AS MATERIALIZED (SELECT {frob(lambda i, j: 'cov.' + gref(i, j))} AS f FROM cov)",
        "a0 AS MATERIALIZED (SELECT "
        + ", ".join(
            f"cov.{gref(i, j)} / f0.f AS a_{i}_{j}" for i in dims for j in dims
        )
        + " FROM cov CROSS JOIN f0)",
    ]
    for k in range(1, PCA_SQUARINGS + 1):
        bcols = ", ".join(
            f"a.a_{i}_0 * a.a_0_{j} "
            + " ".join(f"+ a.a_{i}_{m} * a.a_{m}_{j}" for m in range(1, d))
            + f" AS b_{i}_{j}"
            for i in dims
            for j in dims
        )
        parts.append(f"b{k} AS MATERIALIZED (SELECT {bcols} FROM a{k - 1} a)")
        parts.append(
            f"f{k} AS MATERIALIZED (SELECT "
            f"{frob(lambda i, j: f'b.b_{i}_{j}')} AS f FROM b{k} b)"
        )
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"b.b_{i}_{j} / f{k}.f AS a_{i}_{j}" for i in dims for j in dims
            )
            + f" FROM b{k} b CROSS JOIN f{k})"
        )
    ak = f"a{PCA_SQUARINGS}"
    ucols = ", ".join(
        f"a.a_{i}_0 * (1.0 / sqrt({d}.0)) "
        + " ".join(f"+ a.a_{i}_{j} * (1.0 / sqrt({d}.0))" for j in range(1, d))
        + f" AS u{i}"
        for i in dims
    )
    parts.append(f"uv AS MATERIALIZED (SELECT {ucols} FROM {ak} a)")
    nrm = "sqrt(u0 * u0 " + " ".join(
        f"+ u{i} * u{i}" for i in range(1, d)
    ) + ")"
    parts.append(
        "vv AS MATERIALIZED (SELECT "
        + ", ".join(f"u{i} / {nrm} AS c{i}" for i in dims)
        + " FROM uv)"
    )
    wcols = ", ".join(
        f"cov.{gref(i, 0)} * v.c0 "
        + " ".join(f"+ cov.{gref(i, j)} * v.c{j}" for j in range(1, d))
        + f" AS u{i}"
        for i in dims
    )
    parts.append(f"wf AS MATERIALIZED (SELECT {wcols} FROM cov CROSS JOIN vv v)")
    lam = "v.c0 * wf.u0 " + " ".join(
        f"+ v.c{i} * wf.u{i}" for i in range(1, d)
    )
    if project:
        # identical parse trees to q_embedding_pca_project
        proj = "v.c0 * (x.x0 - mu.m0) " + " ".join(
            f"+ v.c{i} * (x.x{i} - mu.m{i})" for i in range(1, d)
        )
        ss = "(x.x0 - mu.m0) * (x.x0 - mu.m0) " + " ".join(
            f"+ (x.x{i} - mu.m{i}) * (x.x{i} - mu.m{i})" for i in range(1, d)
        )
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
SELECT x.vec_id,
       floor(({proj}) * 1000000.0) / 1000000.0 AS pc1_score,
       floor((({ss}) - ({proj}) * ({proj})) * 1000000.0) / 1000000.0
         AS resid_sq
FROM x CROSS JOIN vv v CROSS JOIN mu
"""
        )
    loading = " ".join(
        f"WHEN {i} THEN floor(v.c{i} * 1000000.0) / 1000000.0" for i in dims
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT t.dim,
       CASE t.dim {loading} END AS loading,
       floor(({lam}) * 1000000.0) / 1000000.0 AS eigenvalue
FROM vv v CROSS JOIN wf
CROSS JOIN (VALUES {', '.join(f'({i})' for i in dims)}) AS t(dim)
"""
    )


LEARNOPS_QUERIES["embedding_pca_power"] = q_embedding_pca_power
LEARNOPS_ORACLES["embedding_pca_power"] = _pca_oracle()
LEARNOPS_QUERIES["embedding_pca_project"] = q_embedding_pca_project
LEARNOPS_ORACLES["embedding_pca_project"] = _pca_oracle(project=True)


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (domain-targeted data selection)
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"  # the declared target domain


def q_dsir_importance_weights(spark, sf_dir):
    """DSIR-STYLE IMPORTANCE WEIGHTS: score every document by its mean
    per-token log-likelihood ratio between a TARGET-domain unigram
    model (docs in the declared target language) and the RAW-corpus
    model, add-one smoothed — the importance-resampling signal for
    "select pretraining data that looks like the target domain"
    (hashed-ngram DSIR reduced to its unigram core). selected =
    weight > 0 marks docs closer to the target than to the background.

    Determinism: both models are ratios of exact integer counts
    (smoothing constants included), composed into ONE double ratio
    with a pinned parse tree; ln() — the only libm call — is rounded
    at 10 dp per INSTANCE; the per-doc mean accumulates in exact
    decimal and rounds at 6 dp (doc_lm_score discipline).

    100 TB: target and raw counts come from the SAME single exploded
    pass (conditional aggregate — no second corpus scan); the merged
    frequency table is CORPUS-SCALED → pinned `shuffle_hash`; the
    scalar totals (N_t, N_r, V) aggregate the vocab-sized freq table,
    not the corpus, and embed as scalar subqueries."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", "lang", F.explode("__toks").alias("t"))
    )
    toks = toks.localCheckpoint(eager=False)  # models + probe share the pass
    is_tgt = (F.col("lang") == DSIR_TARGET_LANG).cast("bigint")
    freq = (
        toks.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("c_raw"),
            F.sum(is_tgt).alias("c_tgt"),
        )
        .hint("shuffle_hash")
    )
    n_raw = freq.agg(F.sum("c_raw").cast("double").alias("v"))
    n_tgt = freq.agg(F.sum("c_tgt").cast("double").alias("v"))
    vocab = freq.agg(F.count(F.lit(1)).cast("double").alias("v"))
    # pinned parse tree: ((c_t+1)/(N_t+V)) / ((c_r+1)/(N_r+V))
    ratio = (
        (F.col("c_tgt") + F.lit(1)).cast("double")
        / (n_tgt.scalar() + vocab.scalar())
    ) / (
        (F.col("c_raw") + F.lit(1)).cast("double")
        / (n_raw.scalar() + vocab.scalar())
    )
    inst = toks.join(freq, "t").select(
        "doc_id", "lang", F.round(F.log(ratio), 10).alias("llr")
    )
    return inst.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("llr").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dsir_weight"),
    ).withColumn("selected", F.col("dsir_weight") > 0)


LEARNOPS_ORACLES["dsir_importance_weights"] = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({TOKENS_DUCK}) AS t FROM documents
),
freq AS (
  SELECT t, count(*) AS c_raw,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS c_tgt
  FROM toks GROUP BY t
),
tot AS (
  SELECT CAST(sum(c_raw) AS DOUBLE) AS n_raw,
         CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
         CAST(count(*) AS DOUBLE) AS v
  FROM freq
),
inst AS (
  SELECT doc_id, lang,
         round(ln((CAST(c_tgt + 1 AS DOUBLE) / (tot.n_tgt + tot.v))
                  / (CAST(c_raw + 1 AS DOUBLE) / (tot.n_raw + tot.v))), 10)
           AS llr
  FROM toks JOIN freq USING (t) CROSS JOIN tot
)
SELECT doc_id, lang, count(*) AS n_tokens,
       round(CAST(CAST(SUM(CAST(llr AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / count(*), 6) AS dsir_weight,
       round(CAST(CAST(SUM(CAST(llr AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / count(*), 6) > 0 AS selected
FROM inst
GROUP BY doc_id, lang
"""
LEARNOPS_QUERIES["dsir_importance_weights"] = q_dsir_importance_weights


LEARNOPS_ORACLES["domain_mixture_sample"] = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
rates AS (
  SELECT source, count(*) AS n_in,
         least(1000000,
               (CASE WHEN source IN {MIX_BOOST_SOURCES}
                     THEN {MIX_BOOST_PPM} ELSE {MIX_REST_PPM} END
                * nn.n) // count(*)) AS keep_ppm
  FROM documents CROSS JOIN nn
  GROUP BY source, nn.n
),
kept AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN rates r ON r.source = d.source
  WHERE {H_SQL.format(x="'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
        < r.keep_ppm
  GROUP BY d.source
)
SELECT rates.source, n_in, COALESCE(n_kept, 0) AS n_kept, keep_ppm
FROM rates LEFT JOIN kept ON kept.source = rates.source
"""
LEARNOPS_QUERIES["domain_mixture_sample"] = q_domain_mixture_sample


# ---------------------------------------------------------------------------
# UniMax-style budgeted language mixing (epoch-capped waterfill)
# ---------------------------------------------------------------------------

UNIMAX_EPOCH_CAP = 2          # no language repeats more than 2 epochs
UNIMAX_BUDGET_NUM = 3         # training budget = 3/2 x corpus tokens
UNIMAX_BUDGET_DEN = 2
UNIMAX_N_LANGS = 5            # oracle unroll width (asserted at runtime)


def q_unimax_language_budget(spark, sf_dir):
    """UNIMAX-STYLE LANGUAGE BUDGETING (epoch-capped waterfill, after
    Chung et al. 2023): given a total training-token budget and a
    per-language repeat cap, languages are processed in ASCENDING
    availability order; each gets min(avail x cap, remaining budget /
    remaining languages), and what a capped language leaves on the
    table flows to larger languages. Exact integer arithmetic
    throughout (floor divisions), so both engines agree bit-for-bit.

    100 TB notes: the distributed work is ONE bounded-domain-key
    aggregate (per-language token totals — the allowed broadcast/
    collect class); the waterfill itself is O(|langs|) driver
    metadata, the k-means-centroid pattern. The oracle unrolls the
    same {n} steps as chained CTEs."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    t = (
        d.select(
            "lang", F.size(F.expr(TOKENS_SPARK)).cast("long").alias("nt")
        )
        .groupBy("lang")
        .agg(F.sum("nt").alias("n"))
    )
    rows = t.collect()  # O(|langs|) — bounded-domain key
    assert len(rows) == UNIMAX_N_LANGS, (
        f"oracle unrolled for {UNIMAX_N_LANGS} langs, corpus has {len(rows)}"
    )
    total = sum(r["n"] for r in rows)
    remaining = total * UNIMAX_BUDGET_NUM // UNIMAX_BUDGET_DEN
    k = len(rows)
    out = []
    for r in sorted(rows, key=lambda r: (r["n"], r["lang"])):
        quota = remaining // k
        cap = r["n"] * UNIMAX_EPOCH_CAP
        alloc = min(cap, quota)
        out.append(
            (
                r["lang"],
                r["n"],
                alloc,
                alloc * 1_000_000 // r["n"] if r["n"] else 0,
                "epochs" if cap <= quota else "budget",
            )
        )
        remaining -= alloc
        k -= 1
    return spark.createDataFrame(
        out,
        "lang string, n_tokens_avail long, alloc_tokens long, "
        "epochs_ppm long, capped_by string",
    )


def _unimax_oracle() -> str:
    E, K = UNIMAX_EPOCH_CAP, UNIMAX_N_LANGS
    steps, minus = [], ""
    for i in range(1, K + 1):
        prev = ", ".join(f"a{j}" for j in range(1, i))
        frm = "o, tot" + (f", {prev}" if prev else "")
        quota = f"(tot.b0{minus}) // {K - i + 1}"
        steps.append(
            f"a{i} AS (\n"
            f"  SELECT o.lang, o.n, {quota} AS quota,\n"
            f"         least(o.n * {E}, {quota}) AS alloc\n"
            f"  FROM {frm} WHERE o.rnk = {i}\n)"
        )
        minus += f" - a{i}.alloc"
    union = "\nUNION ALL\n".join(f"SELECT * FROM a{i}" for i in range(1, K + 1))
    return f"""
WITH t AS (
  SELECT lang, CAST(SUM(len({TOKENS_DUCK})) AS BIGINT) AS n
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(n) * {UNIMAX_BUDGET_NUM} // {UNIMAX_BUDGET_DEN} AS BIGINT)
    AS b0 FROM t
),
o AS (SELECT lang, n, row_number() OVER (ORDER BY n, lang) AS rnk FROM t),
{",".join(steps)},
u AS ({union})
SELECT lang, n AS n_tokens_avail, alloc AS alloc_tokens,
       alloc * 1000000 // n AS epochs_ppm,
       CASE WHEN n * {E} <= quota THEN 'epochs' ELSE 'budget' END AS capped_by
FROM u
"""


LEARNOPS_QUERIES["unimax_language_budget"] = q_unimax_language_budget
LEARNOPS_ORACLES["unimax_language_budget"] = _unimax_oracle()


# ---------------------------------------------------------------------------
# Temporal novelty score (first-seen window fraction)
# ---------------------------------------------------------------------------


def q_doc_novelty_temporal(spark, sf_dir):
    """TEMPORAL NOVELTY SCORE: the fraction of a document's 8-token
    windows whose FIRST corpus occurrence (min doc_id — ingestion
    order proxy) is this document — the "how much of this doc is new
    text vs. re-crawl of things we already hold" signal that an
    incremental curation loop uses to triage fresh data. Novelty is
    the complement view of the duplicated-span fraction
    (``dedup_substring_spans``): spans ask "is this window ANYWHERE
    else", novelty asks "who had it FIRST". Integer-exact ppm output.

    100 TB: one tokenize+explode pass (checkpointed, feeds both the
    first-seen build and the probe); the first-seen table is
    CORPUS-SCALED → pinned `shuffle_hash` equi-join, never an
    estimate-fed broadcast (PLANS.md sf10 rule); per-doc rollup is
    map-side combinable; sub-window docs rejoin with zeros."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    wh = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.expr(_SPAN_WINDOWS_SPARK)).alias("w"))
        .select("doc_id", _h(F.col("w")).alias("wh"))
    )
    wh = wh.localCheckpoint(eager=False)
    firsts = (
        wh.groupBy("wh")
        .agg(F.min("doc_id").alias("first_doc"))
        .hint("shuffle_hash")
    )
    probe = (
        wh.join(firsts, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(probe, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.coalesce(
                F.expr("n_novel * 1000000 div n_windows"), F.lit(0)
            ).alias("novelty_ppm"),
        )
    )


LEARNOPS_ORACLES["doc_novelty_temporal"] = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents
),
wh AS (
  SELECT doc_id, {H_SQL.format(x="w")} AS wh
  FROM (SELECT doc_id, unnest({_SPAN_WINDOWS_DUCK}) AS w FROM toked)
),
firsts AS (SELECT wh, min(doc_id) AS first_doc FROM wh GROUP BY 1),
probe AS (
  SELECT w.doc_id, count(*) AS n_windows,
         CAST(SUM(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM wh w JOIN firsts f USING (wh) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(n_windows, 0) AS n_windows,
       COALESCE(n_novel, 0) AS n_novel,
       COALESCE(n_novel * 1000000 // n_windows, 0) AS novelty_ppm
FROM documents d LEFT JOIN probe ON probe.doc_id = d.doc_id
"""
LEARNOPS_QUERIES["doc_novelty_temporal"] = q_doc_novelty_temporal


# ---------------------------------------------------------------------------
# Classifier calibration (reliability-diagram bins)
# ---------------------------------------------------------------------------


def q_classifier_calibration_bins(spark, sf_dir):
    """CLASSIFIER CALIBRATION (reliability diagram): the trained
    quality classifier's scores bucketed into 10 probability bins,
    each reporting document count, mean predicted probability and the
    OBSERVED positive rate — the is-0.8-really-0.8 check that decides
    whether a score threshold can be trusted as a keep-rate dial.
    Everything is integer-exact: the probability is materialized as
    floor(p·10⁶) ppm BEFORE any division (re-dividing the quantized
    double by 10⁶ and re-multiplying can land one ulp under the
    integer and floor off-by-one), bins are ppm // 10⁵ clamped to 9,
    means are bigint floor-divisions — no double accumulates anywhere.

    100 TB: one scan-stage column expression (weights as literals) +
    one 10-key aggregate."""
    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    m = F.lit(w[0]) * F.col("x0")
    for j in (1, 2, 3):
        m = m + F.lit(w[j]) * F.col(QC_FEATURES[j])
    raw = F.lit(0.5) + F.lit(0.5) * (m / (F.lit(1.0) + F.abs(m)))
    ppm = F.floor(raw * F.lit(1000000.0)).cast("long")
    binc = F.least(ppm / F.lit(100000), F.lit(9)).cast("long")
    return (
        feats.select(binc.alias("bin"), ppm.alias("ppm"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(ppm) div count(1)").alias("mean_p_ppm"),
            F.sum("y").alias("n_pos"),
            F.expr("sum(y) * 1000000 div count(1)").alias("pos_rate_ppm"),
        )
    )


_QC_PPM_FINAL = (
    f"CAST(floor((0.5 + 0.5 * ({_QC_M_FINAL} / (1.0 + abs({_QC_M_FINAL}))))"
    " * 1000000.0) AS BIGINT)"
)

LEARNOPS_ORACLES["classifier_calibration_bins"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT doc_id, y, {_QC_PPM_FINAL} AS ppm
  FROM qf CROSS JOIN w{QC_ITERS} w
)
SELECT least(ppm // 100000, 9) AS bin,
       count(*) AS n_docs,
       CAST(SUM(ppm) AS BIGINT) // count(*) AS mean_p_ppm,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS BIGINT) * 1000000 // count(*) AS pos_rate_ppm
FROM scored
GROUP BY 1
"""
)
LEARNOPS_QUERIES["classifier_calibration_bins"] = q_classifier_calibration_bins


# ---------------------------------------------------------------------------
# Streaming incremental novelty (stateful; exact vs the batch oracle)
# ---------------------------------------------------------------------------


def q_streaming_novelty_incremental(spark, sf_dir):
    """STREAMING NOVELTY — the incremental form of
    ``doc_novelty_temporal``: documents arrive as doc_id-ordered
    micro-batches; each batch scores its docs against the SEEN-WINDOW
    store (every window hash first observed in an earlier batch), with
    in-batch firsts resolved by min doc_id; new hashes append to the
    store as a per-batch partition (overwrite = idempotent replay, the
    quarantine discipline). Because the stream is ordered, the final
    per-doc novelty must equal the batch operator EXACTLY — the gate
    runs against the very same min-doc-id oracle, proving the
    incremental state transition is lossless.

    100 TB notes: per-batch work is batch-windows × one left join
    against the store plus one window min over wh; the store is
    append-only hashes (the dedup-ledger shape, ``streaming/ledger.py``);
    results append once per doc (each doc lives in exactly one batch)."""
    from ..streaming.ledger import first_seen_ledger

    def windows(batch_df):
        return batch_df.withColumn("__toks", F.expr(TOKENS_SPARK)).select(
            "doc_id", F.explode(F.expr(_SPAN_WINDOWS_SPARK)).alias("w")
        ).select("doc_id", _h(F.col("w")).alias("wh"))

    def novelty(j):
        # a window is novel at the doc that first holds a hash no
        # earlier batch stored
        return j.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(
                    F.col("__prior").isNull()
                    & (F.col("__first") == F.col("doc_id")),
                    1,
                ).otherwise(0)
            ).alias("n_novel"),
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = first_seen_ledger(
        spark, "streaming_novelty_incremental", docs, "doc_id", "wh",
        windows, novelty,
    )
    return (
        docs.select("doc_id")
        .join(res, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.coalesce(
                F.expr("n_novel * 1000000 div n_windows"), F.lit(0)
            ).alias("novelty_ppm"),
        )
    )


# lossless incremental state transition: the BATCH oracle, verbatim
LEARNOPS_ORACLES["streaming_novelty_incremental"] = LEARNOPS_ORACLES[
    "doc_novelty_temporal"
]
LEARNOPS_QUERIES["streaming_novelty_incremental"] = (
    q_streaming_novelty_incremental
)


# ---------------------------------------------------------------------------
# Multi-epoch reshuffle manifest (seeded per-epoch orders)
# ---------------------------------------------------------------------------

RESHUFFLE_EPOCHS = 2


def q_epoch_reshuffle_manifest(spark, sf_dir):
    """MULTI-EPOCH RESHUFFLE MANIFEST: multi-epoch training must not
    replay epoch 0's order (order-correlated gradients re-correlate),
    so each epoch e draws an independent hash order
    h("order:e:" + doc) within the SAME shard assignment (shards stay
    stable so shard files never rewrite; only the read order per epoch
    changes). Emits (epoch, doc, shard, pos) for {e} epochs —
    byte-reproducible like ``training_shard_manifest``, whose
    single-epoch shape this extends. Epoch orders are provably
    uncorrelated (rank-correlation test in tests/test_wave3.py).

    100 TB: per epoch, one grouped_rank range sort; shard hash is
    scan-stage."""
    from ..operators.ranking import grouped_rank

    d = _t(spark, sf_dir, "documents").select("doc_id")
    out = None
    for e in range(RESHUFFLE_EPOCHS):
        frame = d.select(
            "doc_id",
            F.pmod(
                _h(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                F.lit(SHARD_COUNT),
            ).alias("shard"),
            _h(
                F.concat(
                    F.lit(f"order:{e}:"), F.col("doc_id").cast("string")
                )
            ).alias("__h"),
        )
        ranked, _ = grouped_rank(
            frame, ["shard"], ["__h", "doc_id"], rank_col="pos"
        )
        epoch_df = ranked.select(
            F.lit(e).cast("long").alias("epoch"), "doc_id", "shard", "pos"
        )
        out = epoch_df if out is None else out.unionByName(epoch_df)
    return out


def _epoch_reshuffle_oracle() -> str:
    parts = []
    for e in range(RESHUFFLE_EPOCHS):
        parts.append(
            f"""SELECT {e} AS epoch, doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h{e}, doc_id) AS pos
FROM s"""
        )
    hexprs = []
    for e in range(RESHUFFLE_EPOCHS):
        x = f"'order:{e}:' || CAST(doc_id AS VARCHAR)"
        hexprs.append(f"{H_SQL.format(x=x)} AS h{e}")
    hcols = ",\n         ".join(hexprs)
    return f"""
WITH s AS (
  SELECT doc_id,
         {H_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")}
           % {SHARD_COUNT} AS shard,
         {hcols}
  FROM documents
)
{' UNION ALL '.join(parts)}
"""


LEARNOPS_QUERIES["epoch_reshuffle_manifest"] = q_epoch_reshuffle_manifest
LEARNOPS_ORACLES["epoch_reshuffle_manifest"] = _epoch_reshuffle_oracle()


# ---------------------------------------------------------------------------
# Classifier evaluation family: exact AUC, PR curve, agreement kappa
# ---------------------------------------------------------------------------


def _qc_ppm_col(w: list[float]) -> F.Column:
    """floor(p·10⁶) as BIGINT from Python weights — the integer-exact
    score used by every eval gate (same expression tree as _qc_p_col,
    but materialized as ppm BEFORE any further arithmetic: re-dividing
    the quantized double by 10⁶ and re-multiplying can land one ulp
    under the integer — the calibration-bins lesson)."""
    m = F.lit(w[0]) * F.col("x0")
    for j in (1, 2, 3):
        m = m + F.lit(w[j]) * F.col(QC_FEATURES[j])
    raw = F.lit(0.5) + F.lit(0.5) * (m / (F.lit(1.0) + F.abs(m)))
    return F.floor(raw * F.lit(1000000.0)).cast("long")


def q_classifier_auc_roc(spark, sf_dir):
    """EXACT ROC AUC of the quality classifier via the Mann-Whitney U
    statistic with full tie handling — the threshold-free ranking-power
    eval beside the calibration gate (is the score a good ORDERING,
    where calibration asks if it is a good PROBABILITY).

    U = Σ over distinct scores s of  P_s·(CN_below(s) + N_s/2); to stay
    in integers the gate materializes 2U = Σ P_s·(2·CN_incl(s) − N_s)
    (CN_incl = inclusive cumulative negatives in score order), so the
    ONLY float op is the final division — one correctly-rounded IEEE
    divide with a pinned expression tree, bit-identical cross-engine.

    100 TB: scores reduce to one row per DISTINCT ppm score (≤ 10⁶ by
    construction, map-side combinable); the cumulative runs through
    global_prefix_sum (distributed two-pass scan, no single-partition
    window); the finale is a scalar aggregate. Nothing row-proportional
    reaches the driver.

    Ref: Mann-Whitney (1947); AUC = U / (n⁺·n⁻)."""
    from ..operators.ranking import global_prefix_sum

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    per_score = (
        feats.select(_qc_ppm_col(w).alias("ppm"), "y")
        .groupBy("ppm")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
        )
    )
    cum = global_prefix_sum(per_score, ["ppm"], "neg", out_col="cum_neg")
    out = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("cum_neg") - F.col("neg"))
        )
        .cast("long")
        .alias("u_times2"),
    )
    return out.select(
        "n_pos",
        "n_neg",
        "u_times2",
        (
            F.col("u_times2").cast("double")
            / (
                F.lit(2.0)
                * (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            )
        ).alias("auc"),
    )


LEARNOPS_ORACLES["classifier_auc_roc"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT {_QC_PPM_FINAL} AS ppm, y FROM qf CROSS JOIN w{QC_ITERS} w
),
per_score AS (
  SELECT ppm, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM scored GROUP BY 1
),
cum AS (
  SELECT ppm, pos, neg,
         CAST(SUM(neg) OVER (ORDER BY ppm
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_neg
  FROM per_score
),
agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * cum_neg - neg)) AS BIGINT) AS u_times2
  FROM cum
)
SELECT n_pos, n_neg, u_times2,
       CAST(u_times2 AS DOUBLE) /
         (2.0 * (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) AS auc
FROM agg
"""
)
LEARNOPS_QUERIES["classifier_auc_roc"] = q_classifier_auc_roc


# Threshold grid for the PR curve: ppm thresholds, literal in both
# engines (the classifier's rational-sigmoid scores live near 0.5, so
# the grid brackets it; degenerate cells are part of the output).
PR_THRESHOLDS_PPM = list(range(400000, 620000, 20000))


def q_precision_recall_curve(spark, sf_dir):
    """PRECISION/RECALL CURVE of the quality classifier over a literal
    ppm-threshold grid — the keep-rate-vs-purity trade-off sheet a
    curation pipeline reads before picking its filter threshold (the
    operating-point complement to AUC's threshold-free ranking eval).

    All counting is integer-exact on the floor-ppm score; precision
    and recall are bigint floor-ppm divisions (never round(double)),
    with an empty-prediction cell pinned to -1 rather than NULL so the
    hash covers the degenerate thresholds too.

    100 TB: the grid is a {k}-element literal array exploded per row —
    map-side combinable into {k} aggregate groups; no join, no window,
    nothing data-dependent in the grid."""
    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    grid = ", ".join(str(t) for t in PR_THRESHOLDS_PPM)
    rows = feats.select(_qc_ppm_col(w).alias("ppm"), "y").select(
        "ppm", "y", F.explode(F.expr(f"array({grid})")).alias("threshold_ppm")
    )
    agg = rows.groupBy("threshold_ppm").agg(
        F.sum(F.expr("CASE WHEN ppm >= threshold_ppm THEN y ELSE 0 END"))
        .cast("long")
        .alias("tp"),
        F.sum(F.expr("CASE WHEN ppm >= threshold_ppm THEN 1 - y ELSE 0 END"))
        .cast("long")
        .alias("fp"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    return agg.select(
        "threshold_ppm",
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        F.expr(
            "CASE WHEN tp + fp = 0 THEN -1 "
            "ELSE tp * 1000000 div (tp + fp) END"
        ).alias("precision_ppm"),
        F.expr("tp * 1000000 div n_pos").alias("recall_ppm"),
    )


q_precision_recall_curve.__doc__ = q_precision_recall_curve.__doc__.format(
    k=len(PR_THRESHOLDS_PPM)
)

_PR_VALUES = ", ".join(f"({t})" for t in PR_THRESHOLDS_PPM)

LEARNOPS_ORACLES["precision_recall_curve"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT {_QC_PPM_FINAL} AS ppm, y FROM qf CROSS JOIN w{QC_ITERS} w
),
grid(threshold_ppm) AS (VALUES {_PR_VALUES}),
agg AS (
  SELECT threshold_ppm,
         CAST(SUM(CASE WHEN ppm >= threshold_ppm THEN y ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN ppm >= threshold_ppm THEN 1 - y ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM scored CROSS JOIN grid
  GROUP BY 1
)
SELECT threshold_ppm, tp, fp, n_pos - tp AS fn,
       CASE WHEN tp + fp = 0 THEN -1
            ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
       tp * 1000000 // n_pos AS recall_ppm
FROM agg
"""
)
LEARNOPS_QUERIES["precision_recall_curve"] = q_precision_recall_curve


def q_annotator_agreement_kappa(spark, sf_dir):
    """COHEN'S KAPPA between the classifier's keep decision (p ≥ 0.5)
    and the length-proxy label — chance-corrected agreement between
    two labelers, the standard answer to "raw agreement looks high
    because both annotators say KEEP to almost everything". The same
    operator shape audits any two quality filters side by side.

    Exact-rational form: with confusion cells n11/n10/n01/n00 and
    N = their sum,  kappa = (N·agree − pe_num) / (N² − pe_num) where
    agree = n11 + n00 and pe_num = (n11+n10)(n11+n01) +
    (n01+n00)(n10+n00) — numerator and denominator are BIGINT-exact
    (the graph_modularity integer-rational discipline); the one double
    division is pinned to an identical expression tree cross-engine.

    100 TB: a single map-side-combinable scalar aggregate over the
    scored scan — O(1) state, no join, no window."""
    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    cells = feats.select(
        (_qc_ppm_col(w) >= F.lit(500000)).cast("int").alias("a"),
        F.col("y").alias("b"),
    ).agg(
        F.sum(F.expr("a * b")).cast("long").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("long").alias("n00"),
    )
    return (
        cells.withColumn("n", F.expr("n11 + n10 + n01 + n00"))
        .withColumn(
            "pe_num",
            F.expr("(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"),
        )
        .select(
            "n",
            "n11",
            "n10",
            "n01",
            "n00",
            F.expr("n * (n11 + n00) - pe_num").alias("kappa_num"),
            F.expr("n * n - pe_num").alias("kappa_den"),
            F.expr(
                "CAST(n * (n11 + n00) - pe_num AS DOUBLE) / "
                "CAST(n * n - pe_num AS DOUBLE)"
            ).alias("kappa"),
        )
    )


LEARNOPS_ORACLES["annotator_agreement_kappa"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT CASE WHEN {_QC_PPM_FINAL} >= 500000 THEN 1 ELSE 0 END AS a, y AS b
  FROM qf CROSS JOIN w{QC_ITERS} w
),
cells AS (
  SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM scored
),
ext AS (
  SELECT *, n11 + n10 + n01 + n00 AS n,
         (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
  FROM cells
)
SELECT n, n11, n10, n01, n00,
       n * (n11 + n00) - pe_num AS kappa_num,
       n * n - pe_num AS kappa_den,
       CAST(n * (n11 + n00) - pe_num AS DOUBLE) /
         CAST(n * n - pe_num AS DOUBLE) AS kappa
FROM ext
"""
)
LEARNOPS_QUERIES["annotator_agreement_kappa"] = q_annotator_agreement_kappa


# ---------------------------------------------------------------------------
# Preference-pair construction (DPO/RLHF training-data prep)
# ---------------------------------------------------------------------------


def q_preference_pairs(spark, sf_dir):
    """PREFERENCE-PAIR CONSTRUCTION (DPO/RLHF data prep): within each
    language, rank documents by the trained quality score and pair the
    i-th best with the i-th worst (top-bottom mirror pairing) —
    maximal-margin (chosen, rejected) pairs with a deterministic,
    re-run-stable assignment; zero-margin mirrors are dropped (a
    preference pair needs a strictly better chosen side).

    Determinism: ranking runs on the INTEGER ppm score (ties broken by
    doc_id); margins are bigint ppm differences — no float enters any
    comparison.

    100 TB: the score joins lang through one corpus↔corpus equi-join
    (pinned shuffle_hash); per-language ranking uses grouped_rank (lang
    is low-cardinality — a PARTITION BY lang window would collapse each
    language onto one task); the group sizes grouped_rank already
    collected ride back as a literal map (zero extra job), and the
    mirror pairing is ONE equi-join on (lang, mirror_rank) — also
    corpus-derived, also shuffle_hash."""
    from ..operators.ranking import grouped_rank

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = feats.select("doc_id", _qc_ppm_col(w).alias("ppm")).join(
        d.hint("shuffle_hash"), "doc_id"
    )
    ranked, totals = grouped_rank(
        scored.withColumn("neg_ppm", -F.col("ppm")),
        ["lang"],
        ["neg_ppm", "doc_id"],
        rank_col="rk",
    )
    items = [F.lit(x) for (lang,), n in totals.items() for x in (lang, n)]
    n_lang = (
        F.element_at(F.create_map(*items), F.col("lang")).cast("long")
        if items
        else F.lit(0).cast("long")
    )
    a = ranked.select(
        "lang",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("ppm").alias("chosen_ppm"),
        F.col("rk").alias("pair_rank"),
        n_lang.alias("n_in_lang"),
        (n_lang + F.lit(1) - F.col("rk")).alias("__mirror"),
    ).filter(F.col("pair_rank") * 2 <= F.col("n_in_lang"))
    b = ranked.select(
        F.col("lang").alias("__blang"),
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("ppm").alias("rejected_ppm"),
        F.col("rk").alias("__brk"),
    )
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("lang") == F.col("__blang"))
            & (F.col("__brk") == F.col("__mirror")),
        )
        .filter(F.col("chosen_ppm") > F.col("rejected_ppm"))
        .select(
            "lang",
            "pair_rank",
            "n_in_lang",
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_ppm",
            "rejected_ppm",
            (F.col("chosen_ppm") - F.col("rejected_ppm")).alias("margin_ppm"),
        )
    )


LEARNOPS_ORACLES["preference_pairs"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT qf.doc_id, d.lang, {_QC_PPM_FINAL} AS ppm
  FROM qf CROSS JOIN w{QC_ITERS} w
  JOIN documents d ON d.doc_id = qf.doc_id
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY ppm DESC, doc_id)
           AS rk,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored
)
SELECT a.lang, a.rk AS pair_rank, a.n_lang AS n_in_lang,
       a.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
       a.ppm AS chosen_ppm, b.ppm AS rejected_ppm,
       a.ppm - b.ppm AS margin_ppm
FROM r a JOIN r b ON a.lang = b.lang AND b.rk = a.n_lang + 1 - a.rk
WHERE a.rk * 2 <= a.n_lang AND a.ppm > b.ppm
"""
)
LEARNOPS_QUERIES["preference_pairs"] = q_preference_pairs


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language ID — the GENERATIVE classifier member
# of the learned-model family (logistic regression = discriminative,
# unigram LM = scoring; NB = train-by-counting classification)
# ---------------------------------------------------------------------------


def q_naive_bayes_langid(spark, sf_dir):
    """MULTINOMIAL NAIVE BAYES language identification: per-language
    add-one-smoothed unigram likelihoods + log prior, argmax over the
    languages — the train-by-counting classifier (fastText-style
    lang-id's statistical core) next to the n-gram heuristic `lang_id`
    gate; training IS one counting pass, so fit and apply fuse into a
    single job.

    Determinism: token/doc counts are exact integers; each log runs on
    a correctly-rounded ratio of exact ints and is rounded to 10 dp
    per MODEL CELL before any accumulation (the doc_lm_score
    discipline), per-doc sums run in DECIMAL(38,10) so summation order
    cannot move a score; argmax ties break lang-ascending.

    100 TB: the model is |vocab|·|langs| rows — corpus-derived, so it
    meets the scoring join pinned `shuffle_hash` (the learnops header
    rule), while the per-LANGUAGE frames (doc counts, token totals)
    are bounded-domain aggregates and ride broadcasts; the language
    list itself collects to the driver (|langs| scalars — the
    grouped_rank bounded-metadata pattern) to build the vocab×lang
    grid as an explode, NOT a cross join. Scoring explodes token
    occurrences once and fans out |langs|× into a map-side-combinable
    rollup; the argmax window partitions by doc_id (high-cardinality —
    already parallel)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    nz = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .filter(F.size("__toks") > 0)
        .select("doc_id", "lang", "__toks")
    )
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY, not localCheckpoint: the occurrence relation is
    # corpus-scaled with FOUR consumers (vocab, counts, totals,
    # scoring) — memory-first checkpoint blocks contend with the
    # consumers' own hash aggregates at scale (PLANS.md addendum 7)
    inst = nz.select(
        "doc_id", "lang", F.explode("__toks").alias("tok")
    ).persist(StorageLevel.DISK_ONLY)
    inst.count()  # materialize before fan-out
    vocab = inst.select("tok").distinct()
    v_count = vocab.agg(F.count(F.lit(1))).scalar()
    cnt = inst.groupBy(F.col("lang").alias("c_lang"), "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    nl = inst.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok"))
    lc = nz.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = nz.agg(F.count(F.lit(1))).scalar()
    langs = sorted(r["lang"] for r in lc.select("lang").collect())
    grid = vocab.select(
        "tok",
        F.explode(F.array(*[F.lit(x) for x in langs])).alias("lang_cand"),
    )
    model = (
        grid.join(
            F.broadcast(nl.withColumnRenamed("lang", "__nl_lang")),
            F.col("lang_cand") == F.col("__nl_lang"),
        )
        .withColumn("__v", v_count)
        .join(
            cnt.hint("shuffle_hash"),
            (F.col("lang_cand") == F.col("c_lang"))
            & (grid["tok"] == cnt["tok"]),
            "left",
        )
        .select(
            grid["tok"],
            "lang_cand",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("n_tok") + F.col("__v")).cast("double")
                ),
                10,
            ).alias("logp"),
        )
    )
    prior = lc.select(
        F.col("lang").alias("p_lang"),
        F.round(
            F.log(
                F.col("n_docs").cast("double")
                / n_total.cast("double")
            ),
            10,
        ).alias("prior"),
    )
    scores = (
        inst.join(model.hint("shuffle_hash"), "tok")
        .groupBy("doc_id", F.col("lang").alias("lang_true"), "lang_cand")
        .agg(F.sum(F.col("logp").cast("decimal(38,10)")).alias("s"))
        .join(F.broadcast(prior), F.col("lang_cand") == F.col("p_lang"))
        .withColumn("score", F.col("s") + F.col("prior").cast("decimal(38,10)"))
    )
    order = [F.col("score").desc(), F.col("lang_cand").asc()]
    return (
        top_k_per_group(scores, "doc_id", order, 1, "__rn")
        .select(
            "doc_id",
            "lang_true",
            F.col("lang_cand").alias("lang_pred"),
            (F.col("lang_true") == F.col("lang_cand")).alias("is_correct"),
        )
    )


LEARNOPS_ORACLES["naive_bayes_langid"] = f"""
WITH t AS (SELECT doc_id, lang, {TOKENS_DUCK} AS toks FROM documents),
nz AS MATERIALIZED (SELECT * FROM t WHERE len(toks) > 0),
inst AS MATERIALIZED (SELECT doc_id, lang, unnest(toks) AS tok FROM nz),
vocab AS (SELECT DISTINCT tok FROM inst),
vtot AS (SELECT count(*) AS v FROM vocab),
cnt AS (SELECT lang AS c_lang, tok, count(*) AS c FROM inst GROUP BY 1, 2),
nl AS (SELECT lang, count(*) AS n_tok FROM inst GROUP BY 1),
lc AS (SELECT lang, count(*) AS n_docs FROM nz GROUP BY 1),
ntot AS (SELECT count(*) AS n FROM nz),
model AS MATERIALIZED (
  SELECT v.tok, l.lang AS lang_cand,
         round(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
                  CAST(nl.n_tok + vtot.v AS DOUBLE)), 10) AS logp
  FROM vocab v
  CROSS JOIN lc l
  JOIN nl ON nl.lang = l.lang
  CROSS JOIN vtot
  LEFT JOIN cnt c ON c.c_lang = l.lang AND c.tok = v.tok
),
prior AS (
  SELECT lang AS p_lang,
         round(ln(CAST(n_docs AS DOUBLE) / CAST(ntot.n AS DOUBLE)), 10)
           AS prior
  FROM lc CROSS JOIN ntot
),
scores AS (
  SELECT i.doc_id, i.lang AS lang_true, m.lang_cand,
         SUM(CAST(m.logp AS DECIMAL(38,10)))
           + CAST(any_value(p.prior) AS DECIMAL(38,10)) AS score
  FROM inst i
  JOIN model m ON m.tok = i.tok
  JOIN prior p ON p.p_lang = m.lang_cand
  GROUP BY 1, 2, 3
)
SELECT doc_id, lang_true, lang_cand AS lang_pred,
       lang_true = lang_cand AS is_correct
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, lang_cand ASC) AS rn
  FROM scores
)
WHERE rn = 1
"""
LEARNOPS_QUERIES["naive_bayes_langid"] = q_naive_bayes_langid


# ---------------------------------------------------------------------------
# Brier score (+ skill vs the base-rate forecaster)
# ---------------------------------------------------------------------------


def q_brier_score(spark, sf_dir):
    """BRIER SCORE of the quality classifier — mean squared error of
    the predicted probability against the 0/1 label — plus the BRIER
    SKILL SCORE against the base-rate forecaster (always predict ȳ):
    skill = 1 − brier/uncertainty, the "is the model better than
    predicting the prevalence" number that completes the eval family
    (AUC = ranking, calibration = probability honesty, kappa =
    agreement, Brier = combined magnitude).

    Exactness: per-row error runs on the INTEGER ppm score
    (ppm − 10⁶·y), squared and summed in DECIMAL(38,0) — bit-exact at
    any corpus size (a bigint sum of 10¹²-scaled squares overflows
    near 10⁷ rows; decimal does not); the three doubles at the end
    (brier, uncertainty, skill) are single correctly-rounded divisions
    over pinned expression trees.

    100 TB: one scalar map-side-combinable aggregate — O(1) state."""
    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    err = _qc_ppm_col(w) - F.lit(1000000) * F.col("y")
    agg = feats.select(err.alias("e"), "y").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(28,0)")).alias(
            "brier_num"
        ),
    )
    brier = F.col("brier_num").cast("double") / (
        F.col("n").cast("double") * F.lit(1.0e12)
    )
    unc = (
        F.col("n_pos").cast("double")
        * (F.col("n") - F.col("n_pos")).cast("double")
    ) / (F.col("n").cast("double") * F.col("n").cast("double"))
    return (
        agg.withColumn("brier", brier)
        .withColumn("uncertainty", unc)
        .select(
            "n",
            "n_pos",
            "brier_num",
            "brier",
            "uncertainty",
            (F.lit(1.0) - F.col("brier") / F.col("uncertainty")).alias(
                "brier_skill"
            ),
        )
    )


LEARNOPS_ORACLES["brier_score"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS (
  SELECT {_QC_PPM_FINAL} - 1000000 * y AS e, y
  FROM qf CROSS JOIN w{QC_ITERS} w
),
agg AS (
  SELECT count(*) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(CAST(e * e AS DECIMAL(28,0))) AS DECIMAL(38,0))
           AS brier_num
  FROM scored
),
ext AS (
  SELECT *,
         {D2D_SQL.format(x="brier_num")} /
           (CAST(n AS DOUBLE) * 1.0e12) AS brier,
         (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)) /
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS uncertainty
  FROM agg
)
SELECT n, n_pos, brier_num, brier, uncertainty,
       1.0 - brier / uncertainty AS brier_skill
FROM ext
"""
)
LEARNOPS_QUERIES["brier_score"] = q_brier_score


# ---------------------------------------------------------------------------
# Consistent-hashing shard rebalance audit (mod-N vs hash ring)
# ---------------------------------------------------------------------------

SHARDS_OLD = 16
SHARDS_NEW = 20


def _ring_positions(n: int) -> list[tuple[int, int]]:
    """(position, shard) ring points for n shards — md5-prefix
    positions, computed with hashlib at PLAN TIME and embedded as
    literals in both engines (the same 32-bit hash family as H_SQL)."""
    import hashlib

    return sorted(
        (
            int(hashlib.md5(f"ringshard:{i}".encode()).hexdigest()[:8], 16),
            i,
        )
        for i in range(n)
    )


def q_shard_rebalance_audit(spark, sf_dir):
    """SHARD-REBALANCE AUDIT: when the shard count grows 16 → 20, what
    fraction of documents MOVE under (a) hash-mod-N assignment vs (b) a
    consistent-hash ring — the resharding-cost sheet that justifies
    ring-based placement for any 100 TB layout that must grow in place
    (mod-N relocates ~1−1/lcm≈95% of the corpus; the ring relocates
    ~|new|/N ≈ 20%, only the arcs claimed by the new shards).

    Ring owner: the shard whose ring position is the first ≥ the doc's
    hash point, wrapping to the globally smallest position — evaluated
    as a filter-over-literal-array expression (positions are hashlib
    literals baked at plan time into BOTH engines; a production ring
    would add virtual nodes per shard for arc evenness — same
    expression, more literals).

    100 TB: fully map-side (per-doc hash + two literal-array lookups),
    one 2-group aggregate; zero joins, zero windows, zero shuffles
    beyond the final 2-row rollup."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    h = _h(F.concat(F.lit("ring:"), F.col("doc_id").cast("string")))

    def ring_expr(n: int) -> str:
        pts = _ring_positions(n)
        arr = ", ".join(f"struct({p}L AS pos, {s} AS shard)" for p, s in pts)
        # get() (not [0]) — ANSI Spark throws on indexing an empty
        # array, and the wrap case IS the empty-filter case
        return (
            f"COALESCE(get(filter(array({arr}), x -> x.pos >= __h), 0).shard, "
            f"{pts[0][1]})"
        )

    tagged = (
        d.withColumn("__h", h)
        .withColumn("mod_old", F.expr(f"__h % {SHARDS_OLD}"))
        .withColumn("mod_new", F.expr(f"__h % {SHARDS_NEW}"))
        .withColumn("ring_old", F.expr(ring_expr(SHARDS_OLD)))
        .withColumn("ring_new", F.expr(ring_expr(SHARDS_NEW)))
    )
    rows = tagged.select(
        F.explode(
            F.expr(
                "array(struct('mod' AS strategy, "
                "CAST(mod_old <> mod_new AS INT) AS moved), "
                "struct('ring' AS strategy, "
                "CAST(ring_old <> ring_new AS INT) AS moved))"
            )
        ).alias("s")
    ).select("s.strategy", "s.moved")
    return rows.groupBy("strategy").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("moved").cast("long").alias("n_moved"),
        F.expr("CAST(SUM(moved) AS BIGINT) * 1000000 div count(1)").alias(
            "moved_ppm"
        ),
    )


def _ring_expr_duck(n: int) -> str:
    pts = _ring_positions(n)
    arr = ", ".join(f"{{'pos': {p}, 'shard': {s}}}" for p, s in pts)
    return (
        f"COALESCE(list_filter([{arr}], x -> x.pos >= __h)[1].shard, "
        f"{pts[0][1]})"
    )


LEARNOPS_ORACLES["shard_rebalance_audit"] = f"""
WITH h AS (
  SELECT {H_SQL.format(x="'ring:' || CAST(doc_id AS VARCHAR)")} AS __h
  FROM documents
),
tagged AS (
  SELECT __h % {SHARDS_OLD} AS mod_old, __h % {SHARDS_NEW} AS mod_new,
         {_ring_expr_duck(SHARDS_OLD)} AS ring_old,
         {_ring_expr_duck(SHARDS_NEW)} AS ring_new
  FROM h
),
rows_s AS (
  SELECT u.s['strategy'] AS strategy, u.s['moved'] AS moved
  FROM (
    SELECT [{{'strategy': 'mod',
              'moved': CAST(mod_old <> mod_new AS INT)}},
            {{'strategy': 'ring',
              'moved': CAST(ring_old <> ring_new AS INT)}}] AS pair
    FROM tagged
  ), unnest(pair) AS u(s)
)
SELECT strategy, count(*) AS n_docs,
       CAST(SUM(moved) AS BIGINT) AS n_moved,
       CAST(SUM(moved) AS BIGINT) * 1000000 // count(*) AS moved_ppm
FROM rows_s
GROUP BY 1
"""
LEARNOPS_QUERIES["shard_rebalance_audit"] = q_shard_rebalance_audit


# ---------------------------------------------------------------------------
# Split-conformal prediction threshold (distribution-free coverage)
# ---------------------------------------------------------------------------

CONFORMAL_ALPHA_NUM = 1   # alpha = 1/10 -> target coverage 90%
CONFORMAL_ALPHA_DEN = 10


def q_conformal_threshold(spark, sf_dir):
    """SPLIT-CONFORMAL calibration of the quality classifier: on a
    deterministic hash-half calibration split, take the
    ⌈(n+1)(1−α)⌉-th smallest nonconformity score (s = 10⁶−ppm for
    positives, ppm for negatives — "how far the score sits from the
    label") as the threshold; on the held-out half, report the
    empirical coverage of {{s ≤ threshold}} — the distribution-free
    ≥ 1−α guarantee every "give me calibrated keep decisions"
    consumer actually wants (finite-sample, no model assumptions;
    Vovk et al., split-conformal form).

    All-integer: nonconformity is ppm arithmetic, the rank k is
    ⌈0.9(n+1)⌉ via bigint ceil-division, threshold selection is a
    per-score count + distributed prefix sum (global_prefix_sum — no
    single-partition window), coverage is floor-ppm. Nothing floats.

    100 TB: two map-side-combinable aggregates (per-score counts,
    eval recount) + the two-pass scan primitive; the split predicate
    is the portable md5 hash — re-run-stable, no sampling state."""
    from ..operators.ranking import global_prefix_sum

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    h2 = _h(F.concat(F.lit("conf:"), F.col("doc_id").cast("string"))) % 2
    scored = feats.select(
        (h2 == 0).alias("is_cal"),
        F.when(F.col("y") == 1, F.lit(1000000) - _qc_ppm_col(w))
        .otherwise(_qc_ppm_col(w))
        .alias("s"),
    )
    cal = scored.filter(F.col("is_cal"))
    n_cal = cal.agg(F.count(F.lit(1))).scalar()
    per_s = cal.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    cum = global_prefix_sum(per_s, ["s"], "c", out_col="cum")
    k_expr = F.expr(
        f"((__n + 1) * ({CONFORMAL_ALPHA_DEN} - {CONFORMAL_ALPHA_NUM})"
        f" + {CONFORMAL_ALPHA_DEN} - 1) div {CONFORMAL_ALPHA_DEN}"
    )
    thr = (
        cum.withColumn("__n", n_cal)
        .withColumn("__k", k_expr)
        .filter(F.col("cum") >= F.col("__k"))
        .agg(F.min("s").alias("thr"))
        .scalar()
    )
    ev = scored.filter(~F.col("is_cal")).withColumn("__thr", thr)
    out = ev.agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum((F.col("s") <= F.col("__thr")).cast("long")).alias("covered"),
        F.max("__thr").alias("threshold_s"),
    )
    return (
        out.withColumn("__n", n_cal)
        .withColumn("k_rank", k_expr)
        .select(
            F.col("__n").alias("n_cal"),
            "k_rank",
            "threshold_s",
            "n_eval",
            "covered",
            F.expr("covered * 1000000 div n_eval").alias("coverage_ppm"),
            F.lit(
                1000000
                * (CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM)
                // CONFORMAL_ALPHA_DEN
            )
            .cast("long")
            .alias("target_ppm"),
        )
    )


LEARNOPS_ORACLES["conformal_threshold"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS MATERIALIZED (
  SELECT {H_SQL.format(x="'conf:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
           AS is_cal,
         CASE WHEN y = 1 THEN 1000000 - {_QC_PPM_FINAL}
              ELSE {_QC_PPM_FINAL} END AS s
  FROM qf CROSS JOIN w{QC_ITERS} w
),
cal AS (SELECT s FROM scored WHERE is_cal),
nc AS (SELECT count(*) AS n FROM cal),
k AS (SELECT ((n + 1) * ({CONFORMAL_ALPHA_DEN} - {CONFORMAL_ALPHA_NUM})
              + {CONFORMAL_ALPHA_DEN} - 1) // {CONFORMAL_ALPHA_DEN} AS k
      FROM nc),
cum AS (
  SELECT s, SUM(count(*)) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cal GROUP BY s
),
thr AS (SELECT min(s) AS thr FROM cum CROSS JOIN k WHERE cum >= k.k),
ev AS (
  SELECT count(*) AS n_eval,
         CAST(SUM(CASE WHEN s <= thr.thr THEN 1 ELSE 0 END) AS BIGINT)
           AS covered,
         max(thr.thr) AS threshold_s
  FROM scored CROSS JOIN thr WHERE NOT is_cal
)
SELECT CAST(nc.n AS BIGINT) AS n_cal, CAST(k.k AS BIGINT) AS k_rank,
       threshold_s, n_eval, covered,
       covered * 1000000 // n_eval AS coverage_ppm,
       CAST({1000000 * (CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM)
             // CONFORMAL_ALPHA_DEN} AS BIGINT) AS target_ppm
FROM ev CROSS JOIN nc CROSS JOIN k
"""
)
LEARNOPS_QUERIES["conformal_threshold"] = q_conformal_threshold


# ---------------------------------------------------------------------------
# Isotonic recalibration (PAVA via the minimax closed form)
# ---------------------------------------------------------------------------

ISO_BINS = 10


def q_isotonic_calibration_bins(spark, sf_dir):
    """ISOTONIC RECALIBRATION of the quality classifier's reliability
    bins: fit the monotone step function minimizing squared error to
    the per-bin positive rates (pool-adjacent-violators), giving the
    score→calibrated-probability map a consumer applies after
    `classifier_calibration_bins` DIAGNOSES miscalibration — diagnose
    then REPAIR, the missing half of the calibration story.

    PAVA is sequential, but over B = {b} bins it has the exact minimax
    closed form  iso(i) = max_{{j≤i}} min_{{k≥j}} avg(y[j..k]), so the
    whole fit is (j,k)-interval averages from prefix sums — every join
    lands on a LITERAL (j,k)/(i,j) grid (≤ B(B+1)/2 rows, equi keys,
    no nested loop, no iteration); intervals spanning empty bins pool
    the same present points, so sparse bins need no special casing.

    Determinism: prefix sums are exact ints; each interval average is
    ONE correctly-rounded double division of exact ints; min/max
    selections on identical doubles are identical — no rounding enters
    anywhere.

    100 TB: the bin rollup is the only corpus-touching stage
    (map-side combinable, ≤ B keys); everything after runs on ≤ B-row
    frames — the prefix window is bounded by the literal bin domain
    (the skyline pattern), and the corpus-derived bin frame enters its
    final join pinned shuffle_hash (derived grouping key — the
    event_transition verdict)."""
    from pyspark.sql import Window

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    ppm = _qc_ppm_col(w)
    binc = F.least(ppm / F.lit(100000), F.lit(9)).cast("long")
    bins = (
        feats.select(binc.alias("bin"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    prefix = bins.select(
        "bin",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wb).alias("cn"),
        F.sum("n_pos").over(wb).alias("cp"),
    ).localCheckpoint(eager=True)
    grid_jk = spark.createDataFrame(
        [(j, k) for j in range(ISO_BINS) for k in range(j, ISO_BINS)],
        "j int, k int",
    )
    at_k = prefix.select(
        F.col("bin").alias("__k"), F.col("cn").alias("cn_k"),
        F.col("cp").alias("cp_k"),
    )
    before_j = prefix.select(
        F.col("bin").alias("__jm1"), F.col("cn").alias("cn_j"),
        F.col("cp").alias("cp_j"),
    )
    intervals = (
        grid_jk.join(at_k.hint("shuffle_hash"), F.col("k") == F.col("__k"))
        .join(
            before_j.hint("shuffle_hash"),
            F.col("j") - 1 == F.col("__jm1"),
            "left",
        )
        .select(
            "j",
            "k",
            (F.col("cn_k") - F.coalesce(F.col("cn_j"), F.lit(0))).alias("nn"),
            (F.col("cp_k") - F.coalesce(F.col("cp_j"), F.lit(0))).alias("pp"),
        )
        .filter(F.col("nn") > 0)
        .withColumn(
            "avg_jk", F.col("pp").cast("double") / F.col("nn").cast("double")
        )
    )
    minm = intervals.groupBy("j").agg(F.min("avg_jk").alias("minm"))
    grid_ij = spark.createDataFrame(
        [(i, j) for i in range(ISO_BINS) for j in range(i + 1)],
        "i int, j int",
    )
    iso = (
        grid_ij.join(minm.hint("shuffle_hash"), "j")
        .groupBy("i")
        .agg(F.max("minm").alias("iso_rate"))
    )
    return (
        bins.join(
            iso.hint("shuffle_hash"),
            F.col("bin") == F.col("i").cast("long"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("n_pos * 1000000 div n_docs").alias("raw_rate_ppm"),
            "iso_rate",
        )
    )


q_isotonic_calibration_bins.__doc__ = (
    q_isotonic_calibration_bins.__doc__.format(b=ISO_BINS)
)

LEARNOPS_ORACLES["isotonic_calibration_bins"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
bins AS MATERIALIZED (
  SELECT least({_QC_PPM_FINAL} // 100000, 9) AS bin,
         count(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos
  FROM qf CROSS JOIN w{QC_ITERS} w
  GROUP BY 1
),
prefix AS MATERIALIZED (
  SELECT bin, n_docs, n_pos,
         SUM(n_docs) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(n_pos) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM bins
),
grid_jk AS (
  SELECT j.j, k.k FROM range({ISO_BINS}) j(j)
  JOIN range({ISO_BINS}) k(k) ON k.k >= j.j
),
intervals AS MATERIALIZED (
  SELECT g.j, g.k,
         ak.cn - COALESCE(bj.cn, 0) AS nn,
         ak.cp - COALESCE(bj.cp, 0) AS pp
  FROM grid_jk g
  JOIN prefix ak ON ak.bin = g.k
  LEFT JOIN prefix bj ON bj.bin = g.j - 1
),
avgs AS (
  SELECT j, k, CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE) AS avg_jk
  FROM intervals WHERE nn > 0
),
minm AS MATERIALIZED (SELECT j, min(avg_jk) AS minm FROM avgs GROUP BY 1),
grid_ij AS (
  SELECT i.i, j.j FROM range({ISO_BINS}) i(i)
  JOIN range({ISO_BINS}) j(j) ON j.j <= i.i
),
iso AS (
  SELECT i, max(minm) AS iso_rate
  FROM grid_ij JOIN minm USING (j) GROUP BY 1
)
SELECT b.bin, b.n_docs, b.n_pos,
       b.n_pos * 1000000 // b.n_docs AS raw_rate_ppm,
       iso.iso_rate
FROM bins b JOIN iso ON iso.i = b.bin
"""
)
LEARNOPS_QUERIES["isotonic_calibration_bins"] = q_isotonic_calibration_bins


# ---------------------------------------------------------------------------
# Streaming conformal filter — calibrate offline, guarantee online
# ---------------------------------------------------------------------------


def _conformal_cal_threshold(spark, sf_dir) -> int:
    """The split-conformal threshold as a DRIVER INTEGER — the frozen
    model artifact the streaming filter ships into every micro-batch
    (exactly the computation inside q_conformal_threshold, collected:
    per-score counts + prefix sum + ⌈0.9(n+1)⌉-rank selection)."""
    from ..operators.ranking import global_prefix_sum

    w, _ = _qc_train(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    h2 = _h(F.concat(F.lit("conf:"), F.col("doc_id").cast("string"))) % 2
    # ONE-CLASS calibration: nonconformity of the KNOWN-GOOD examples
    # only (s = 10**6 - ppm over calibration positives). The serving
    # guarantee a curation filter wants is "lose <= alpha of the good
    # documents"; calibrating on the mixed set puts the threshold so
    # high the filter keeps everything (measured: 500/500 at sf0.001 vs
    # 241/500 one-class).
    cal = feats.filter(h2 == 0).filter(F.col("y") == 1).select(
        (F.lit(1000000) - _qc_ppm_col(w)).alias("s")
    )
    n = cal.count()
    k = ((n + 1) * (CONFORMAL_ALPHA_DEN - CONFORMAL_ALPHA_NUM)
         + CONFORMAL_ALPHA_DEN - 1) // CONFORMAL_ALPHA_DEN
    per_s = cal.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    cum = global_prefix_sum(per_s, ["s"], "c", out_col="cum")
    return cum.filter(F.col("cum") >= k).agg(F.min("s")).collect()[0][0]


def q_streaming_conformal_filter(spark, sf_dir):
    """§2.9 STREAMING CONFORMAL FILTER: calibrate the split-conformal
    threshold OFFLINE (q_conformal_threshold's machinery, collected to
    one driver integer), then keep exactly the streamed documents
    whose keep-hypothesis survives at level α — s₁ = 10⁶ − ppm ≤
    threshold, i.e. the conformal prediction set contains "high
    quality". The distribution-free ≥ 1−α guarantee rides a STATELESS
    column filter: no state store, no watermark, no shuffle — the
    highest-throughput streaming class, same as
    streaming_quality_filter but with a calibrated threshold instead
    of the raw 0.5 cut.

    Over bounded input the kept set equals the batch filter at the
    same threshold, which is what the oracle checks."""
    from .extensions import _run_stream, _stream_table

    thr = _conformal_cal_threshold(spark, sf_dir)
    w, _ = _qc_train(spark, sf_dir)
    docs = _stream_table(spark, sf_dir, "documents", "streaming_conformal_filter")
    feats = _qc_feature_frame(docs)
    ppm = _qc_ppm_col(w)
    kept = feats.select("doc_id", ppm.alias("p_ppm")).filter(
        F.lit(1000000) - F.col("p_ppm") <= F.lit(int(thr))
    )
    return _run_stream(kept, "append")


LEARNOPS_QUERIES["streaming_conformal_filter"] = q_streaming_conformal_filter
LEARNOPS_ORACLES["streaming_conformal_filter"] = (
    "WITH "
    + _qc_train_ctes()
    + f""",
scored AS MATERIALIZED (
  SELECT doc_id, {_QC_PPM_FINAL} AS ppm,
         {H_SQL.format(x="'conf:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
           AS is_cal, y,
         CASE WHEN y = 1 THEN 1000000 - {_QC_PPM_FINAL}
              ELSE {_QC_PPM_FINAL} END AS s
  FROM qf CROSS JOIN w{QC_ITERS} w
),
cal AS (SELECT 1000000 - ppm AS s FROM scored WHERE is_cal AND y = 1),
nc AS (SELECT count(*) AS n FROM cal),
k AS (SELECT ((n + 1) * ({CONFORMAL_ALPHA_DEN} - {CONFORMAL_ALPHA_NUM})
              + {CONFORMAL_ALPHA_DEN} - 1) // {CONFORMAL_ALPHA_DEN} AS k
      FROM nc),
cum AS (
  SELECT s, SUM(count(*)) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cal GROUP BY s
),
thr AS (SELECT min(s) AS thr FROM cum CROSS JOIN k WHERE cum >= k.k)
SELECT doc_id, ppm AS p_ppm
FROM scored CROSS JOIN thr
WHERE 1000000 - ppm <= thr.thr
"""
)
