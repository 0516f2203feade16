"""Feature-engineering / diagnostics operator family: time-decay
features, robust (MAD) outliers, key-skew profiling, and the
hashing-trick vectorizer — the remaining numeric-prep operators a
large-scale training-data pipeline runs beside the dedup/similarity
stack in queries/extensions.py.

Determinism contract (same as queries/core.py): money/value sums
accumulate in exact DECIMAL(38,10); thresholds derived from statistics
are rounded to 6 dp BEFORE any comparison so both engines sit on
bit-identical boundaries; decay weights are exact negative powers of
two (mantissa-preserving double multiply — zero rounding anywhere in
the weight path); hashes go through the md5-prefix portable hash.

Reference analogues: the reference's feature views compute time-since
/ sentinel features and per-wallet conditional statistics over Athena
(src/pipelines/features/transformations/view_defi_borrow_features.sql,
view_defi_lending_features.sql); these generalize that family to the
decay/robust/profiling forms. 100 TB notes inline per query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import D2D_SQL, _events, _t, epoch_sql
from .extensions import H_SQL, TOKENS_DUCK, TOKENS_SPARK, _h

DEC = "decimal(38,10)"

FEATOPS_QUERIES: dict = {}
FEATOPS_ORACLES: dict = {}

_D2D = D2D_SQL


# ---------------------------------------------------------------------------
# Exponential time-decay (EWMA-style) per-user features
# ---------------------------------------------------------------------------

# Fixed evaluation anchor: 2024-01-31 00:00:00 UTC — the injected "now"
# just past the 30-day event window (same discipline as core.FIXED_NOW:
# a decay feature must never read the wall clock).
DECAY_ANCHOR = 1_706_659_200
DECAY_MAX_AGE_DAYS = 62  # shiftleft(1L, age) stays in BIGINT range


def q_ewma_user_value(spark, sf_dir):
    """EXPONENTIAL TIME-DECAY features per user (half-life = 1 day):
    decayed_value = Σ value·2^(−age_days), the recency-weighted
    engagement feature every behavioral model starts from.

    Bit-determinism trick: the weight is an exact negative power of two
    (1.0 / (1L << age_days), integer age via `div`), so value·weight is
    a mantissa-preserving double multiply — NO libm call (exp/pow) and
    NO rounding enters the weight path in either engine; the weighted
    terms then accumulate in exact decimal. A λ-parameterized exp()
    decay would hash-differ across libms; any half-life expressible as
    1/2^k days keeps this trick.

    100 TB notes: single scan → one map-side-combinable aggregate on
    user_id; the anchor is a literal, so the whole weight expression is
    whole-stage-codegen arithmetic. Rows older than 62 days get weight
    0 via the age clamp (at real scale the date filter w > 0 implies
    would prune the scan to the trailing window first)."""
    ev = _events(spark, sf_dir).withColumn("__ep", F.col("ts").cast("long"))
    age = F.expr(f"cast(({DECAY_ANCHOR}L - __ep) div 86400 as int)")
    ev = ev.withColumn("__age", F.least(F.lit(DECAY_MAX_AGE_DAYS), age))
    w = F.lit(1.0) / F.expr("cast(shiftleft(1L, __age) as double)")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.sum((F.col("value") * w).cast(DEC)).cast("double"), 6
            ).alias("decayed_value"),
            F.min("__age").alias("freshest_age_days"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


FEATOPS_ORACLES["ewma_user_value"] = f"""
WITH aged AS (
  SELECT user_id, value,
         least({DECAY_MAX_AGE_DAYS},
               CAST(({DECAY_ANCHOR} - {epoch_sql("ts")}) // 86400 AS INTEGER)) AS age
  FROM events
)
SELECT user_id,
       round({_D2D.format(x="SUM(CAST(value * (1.0 / CAST((CAST(1 AS BIGINT) << age) AS DOUBLE)) AS DECIMAL(38,10)))")}, 6)
         AS decayed_value,
       min(age) AS freshest_age_days,
       count(*) AS n_events
FROM aged
GROUP BY 1
"""
FEATOPS_QUERIES["ewma_user_value"] = q_ewma_user_value


# ---------------------------------------------------------------------------
# MAD (median-absolute-deviation) robust outliers
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag beyond 3 robust standard deviations
MAD_CONSISTENCY = 1.4826  # MAD→σ for normal data


def q_outlier_mad(spark, sf_dir):
    """ROBUST OUTLIERS via median absolute deviation — the
    outlier-resistant twin of q_outlier_zscore (a single extreme value
    inflates mean/σ and hides its neighbors; median/MAD do not break
    down until 50% contamination). Flag rows with
    |x − med| > 3·1.4826·MAD, robust_z = (x − med)/(1.4826·MAD).

    Determinism: med and MAD are exact JVM `percentile` results
    (percentile_cont interpolation — the percentile_bands contract)
    rounded to 6 dp BEFORE any arithmetic, so both engines derive every
    deviation, threshold and score from bit-identical statistics.
    Degenerate groups (MAD = 0) are excluded in both engines rather
    than dividing by zero.

    100 TB notes: two aggregate passes by design (the deviation median
    depends on the value median) — each is a map-side-combinable
    aggregate to |groups| rows broadcast back onto the fact scan; the
    fact itself never shuffles. Exact group percentiles buffer
    per-group values (bounded groups; unbounded keys would switch to
    approx_percentile, which an exact-hash gate could not pin)."""
    ev = _events(spark, sf_dir)
    med_stats = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med_stats), "event_type").withColumn(
        "__dev", F.abs(F.col("value") - F.col("med"))
    )
    mad_stats = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.round(F.percentile(F.col("__dev"), F.lit(0.5)), 6).alias("mad"),
    ).filter(F.col("mad") > 0)
    thr = F.lit(MAD_K) * F.lit(MAD_CONSISTENCY) * F.col("mad")
    return (
        ev.join(F.broadcast(mad_stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > thr)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (F.col("value") - F.col("med"))
                / (F.lit(MAD_CONSISTENCY) * F.col("mad")),
                6,
            ).alias("robust_z"),
        )
    )


FEATOPS_ORACLES["outlier_mad"] = f"""
WITH med AS (
  SELECT event_type,
         round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, m.med,
         round(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - med)), 6) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY 1, 2
)
SELECT event_id, e.event_type, value,
       round((value - med) / ({MAD_CONSISTENCY} * mad), 6) AS robust_z
FROM events e JOIN mad ON e.event_type = mad.event_type
WHERE mad > 0
  AND abs(value - med) > {MAD_K} * {MAD_CONSISTENCY} * mad
"""
FEATOPS_QUERIES["outlier_mad"] = q_outlier_mad


# ---------------------------------------------------------------------------
# Key-skew profiler — the 100 TB shuffle-planning diagnostic
# ---------------------------------------------------------------------------

SKEW_TOP_K = 10


def q_key_skew_profile(spark, sf_dir):
    """KEY-SKEW PROFILE of a prospective shuffle key: top-K keys by
    row count with each key's share of the table and its skew factor
    (count ÷ mean-per-key). This is the diagnostic run BEFORE choosing
    a join/agg strategy at scale — a skew factor ≫ 1 on the top key is
    the signal to salt (operators/skew.py) or rely on AQE skew-join
    splitting; share ≈ 1/|keys| means a plain hash shuffle is fine.

    100 TB notes: the per-key count is one map-side-combinable
    aggregate, MATERIALIZED once (eager localCheckpoint) because three
    consumers derive from it — the top-K and the two scalar totals;
    without the cut each scalar subquery would re-execute the fact
    aggregate (three fact scans instead of one — the doc_lm_score
    lesson). The top-K is a TakeOrdered over |keys| rows (count-desc,
    key-asc total order), not a global sort of the fact; the totals
    are 1-row reduces of the materialized |keys|-row frame."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=True)
    tot = counts.agg(F.sum("cnt").cast("double").alias("__t"))
    nk = counts.agg(F.count(F.lit(1)).cast("double").alias("__k"))
    return (
        counts.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(SKEW_TOP_K)
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / tot.scalar(), 6).alias("share"),
            F.round(F.col("cnt") * nk.scalar() / tot.scalar(), 6).alias("skew_x"),
        )
    )


FEATOPS_ORACLES["key_skew_profile"] = f"""
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
)
SELECT user_id, cnt,
       round(CAST(cnt AS DOUBLE) / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM counts), 6) AS share,
       round(CAST(cnt AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM counts)
             / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM counts), 6) AS skew_x
FROM counts
ORDER BY cnt DESC, user_id ASC
LIMIT {SKEW_TOP_K}
"""
FEATOPS_QUERIES["key_skew_profile"] = q_key_skew_profile


# ---------------------------------------------------------------------------
# Hashing-trick vectorizer (sparse fixed-dimension text features)
# ---------------------------------------------------------------------------

HASH_DIM = 256


def q_feature_hashing(spark, sf_dir):
    """HASHING-TRICK VECTORIZER — tokens hashed into a fixed
    HASH_DIM-bucket space, emitting each document's sparse vector as
    (doc_id, bucket, weight) rows. The hashing trick is the
    vocabulary-free featurizer for unbounded token spaces: no vocab
    build pass, no dictionary broadcast, memory bounded by HASH_DIM
    however large the corpus grows (the property that matters at
    100 TB — a vocabulary join would shuffle the corpus against an
    ever-growing dictionary; this is one map-only pass plus one
    map-side-combinable aggregate).

    The bucket hash is the portable md5-prefix hash reduced mod
    HASH_DIM, so the assignment is engine-independent (and
    rerun-stable — a feature store can be appended incrementally)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode_outer("__toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("bucket", _h(F.col("tok")) % HASH_DIM)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


FEATOPS_ORACLES["feature_hashing"] = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
exploded AS (SELECT doc_id, unnest(__toks) AS tok FROM toks)
SELECT doc_id, {H_SQL.format(x="tok")} % {HASH_DIM} AS bucket,
       count(*) AS weight
FROM exploded
GROUP BY 1, 2
"""
FEATOPS_QUERIES["feature_hashing"] = q_feature_hashing


# ---------------------------------------------------------------------------
# BPE-ish regex token counting (billable-token estimation)
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenization classes, restricted to the regex subset
# that Java regex (Spark) and RE2 (DuckDB) evaluate identically: letter
# runs, digit runs, single non-alnum-non-space marks. No backrefs, no
# lookahead (RE2 has neither), no \p classes (dialect-divergent).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]"


def q_token_class_counts(spark, sf_dir):
    """BPE-ISH REGEX TOKEN COUNTING — per-document token totals by
    class (letter runs / digit runs / punctuation marks), the
    pre-tokenization pass that estimates billable tokens far better
    than chars/4 (text_quality's bpe_token_est) because punctuation and
    numbers tokenize ~per character while words tokenize ~per run.

    The pattern is confined to the Java-regex ∩ RE2 subset so both
    engines extract identical token streams — the portability rule for
    any regex that must run on heterogeneous engines (Spark executors
    vs a DuckDB/Trino oracle).

    100 TB notes: map-only regexp_extract_all + array length — pure
    whole-stage-codegen string work, no shuffle at all (the final
    per-doc row IS the scan row); the regex engine cost is linear in
    text bytes."""
    d = _t(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(lower(text), '{BPE_PATTERN}', 0)")
    return (
        d.withColumn("__tk", toks)
        .select(
            "doc_id",
            F.size("__tk").alias("n_tokens"),
            F.size(F.filter("__tk", lambda t: t.rlike("^[a-z]"))).alias(
                "n_word_tokens"
            ),
            F.size(F.filter("__tk", lambda t: t.rlike("^[0-9]"))).alias(
                "n_num_tokens"
            ),
            F.size(
                F.filter("__tk", lambda t: ~t.rlike("^[a-z0-9]"))
            ).alias("n_punct_tokens"),
        )
    )


FEATOPS_ORACLES["token_class_counts"] = f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{BPE_PATTERN}') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]'))) AS INTEGER) AS n_word_tokens,
       CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]'))) AS INTEGER) AS n_num_tokens,
       CAST(len(list_filter(toks, t -> NOT regexp_matches(t, '^[a-z0-9]'))) AS INTEGER) AS n_punct_tokens
FROM tk
"""
FEATOPS_QUERIES["token_class_counts"] = q_token_class_counts


# ---------------------------------------------------------------------------
# Temporal train/test split with embargo (leakage-safe financial splits)
# ---------------------------------------------------------------------------

SPLIT_T0 = 1_705_708_800  # 2024-01-20 00:00:00 UTC
EMBARGO_SECONDS = 3 * 86400


def q_temporal_split_embargo(spark, sf_dir):
    """TEMPORAL SPLIT WITH EMBARGO — train strictly before t0, a
    3-day embargo gap discarded, test from t0+embargo on. The split
    discipline for financial / serially-correlated data: a random
    (hash) split like ``deterministic_split`` leaks label information
    through autocorrelation across the boundary; the embargo kills the
    overlap window a look-ahead feature could straddle. Returns the
    per-(split, event_type) audit (counts + boundary epochs) a
    pipeline records next to the split artifact.

    100 TB notes: pure scan + map-side-combinable aggregate on ≤3×|types|
    keys; on a date-partitioned lake each split's read partition-prunes
    (the boundaries are literals). The embargoed rows are counted, not
    silently dropped — no silent caps."""
    ev = _events(spark, sf_dir).withColumn("__ep", F.col("ts").cast("long"))
    split = (
        F.when(F.col("__ep") < SPLIT_T0, F.lit("train"))
        .when(F.col("__ep") < SPLIT_T0 + EMBARGO_SECONDS, F.lit("embargo"))
        .otherwise(F.lit("test"))
    )
    return (
        ev.groupBy(split.alias("split"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__ep").alias("min_epoch"),
            F.max("__ep").alias("max_epoch"),
        )
    )


FEATOPS_ORACLES["temporal_split_embargo"] = f"""
WITH e AS (SELECT event_type, {epoch_sql("ts")} AS ep FROM events)
SELECT CASE WHEN ep < {SPLIT_T0} THEN 'train'
            WHEN ep < {SPLIT_T0} + {EMBARGO_SECONDS} THEN 'embargo'
            ELSE 'test' END AS split,
       event_type,
       count(*) AS n_rows,
       min(ep) AS min_epoch,
       max(ep) AS max_epoch
FROM e
GROUP BY 1, 2
"""
FEATOPS_QUERIES["temporal_split_embargo"] = q_temporal_split_embargo


# ---------------------------------------------------------------------------
# Group-mean imputation (simulated missingness, decimal-exact means)
# ---------------------------------------------------------------------------

IMPUTE_MASK_MOD = 7  # value treated as missing when event_id % 7 == 0


def q_impute_group_mean(spark, sf_dir):
    """GROUP-MEAN IMPUTATION — the numeric-missing-value repair pass of
    a feature pipeline. The testdata has no physical nulls, so
    missingness is SIMULATED deterministically (event_id % 7 == 0) as
    part of the query spec; the imputed value is the event_type mean of
    the NON-missing rows (never contaminated by the rows being
    repaired — the subtlety this gate pins: a naive avg(value) over all
    rows would leak the masked values back into the fill).

    Determinism: the group mean is exact-decimal-sum / count rounded to
    6 dp before substitution, so both engines fill bit-identical
    values.

    100 TB notes: one stats aggregate to |groups| rows broadcast back
    onto the scan — fact never shuffles; output is row-for-row with the
    input (map-only after the broadcast)."""
    ev = _events(spark, sf_dir)
    missing = F.col("event_id") % IMPUTE_MASK_MOD == 0
    stats = (
        ev.filter(~missing)
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("__fill")
        )
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.when(missing, F.col("__fill")).otherwise(F.col("value")).alias(
                "value_imputed"
            ),
            missing.alias("was_missing"),
        )
    )


FEATOPS_ORACLES["impute_group_mean"] = f"""
WITH stats AS (
  SELECT event_type,
         round({_D2D.format(x="SUM(CAST(value AS DECIMAL(38,10)))")} / count(*), 6) AS fill
  FROM events
  WHERE event_id % {IMPUTE_MASK_MOD} <> 0
  GROUP BY 1
)
SELECT event_id, e.event_type,
       CASE WHEN event_id % {IMPUTE_MASK_MOD} = 0 THEN fill ELSE value END AS value_imputed,
       event_id % {IMPUTE_MASK_MOD} = 0 AS was_missing
FROM events e JOIN stats USING (event_type)
"""
FEATOPS_QUERIES["impute_group_mean"] = q_impute_group_mean


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (leakage-aware categorical encoding)
# ---------------------------------------------------------------------------


def q_target_encode_loo(spark, sf_dir):
    """LEAVE-ONE-OUT TARGET ENCODING of event_type against the value
    target: each row's encoding is its group's target mean WITH THE ROW
    ITSELF REMOVED — (Σ_group − x)/(n_group − 1). Plain target-mean
    encoding leaks each row's own label into its feature (the classic
    target-leakage bug); LOO is the standard repair, and the subtlety
    this gate pins is the exact exclusion arithmetic.

    Determinism: Σ accumulates in exact decimal; x is cast to the same
    decimal so Σ − x is EXACT decimal subtraction; only then does one
    double division by (n−1) happen, identically in both engines, then
    a 6-dp round. Singleton groups (n = 1) are excluded in both engines
    (a pipeline would fall back to the global prior).

    100 TB notes: group stats are one map-side-combinable aggregate to
    |categories| rows broadcast back onto the scan — the fact never
    shuffles and the output is row-for-row with the input."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast(DEC)).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    ).filter(F.col("__n") > 1)
    loo = (F.col("__s") - F.col("value").cast(DEC)).cast("double") / (
        F.col("__n") - 1
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(loo, 6).alias("loo_enc"),
        )
    )


FEATOPS_ORACLES["target_encode_loo"] = f"""
WITH stats AS (
  SELECT event_type,
         SUM(CAST(value AS DECIMAL(38,10))) AS s,
         count(*) AS n
  FROM events GROUP BY 1 HAVING count(*) > 1
)
SELECT event_id, e.event_type,
       round({_D2D.format(x="s - CAST(value AS DECIMAL(38,10))")} / (n - 1), 6) AS loo_enc
FROM events e JOIN stats USING (event_type)
"""
FEATOPS_QUERIES["target_encode_loo"] = q_target_encode_loo


# ---------------------------------------------------------------------------
# Streaming twin of the time-decay feature (order-independent state)
# ---------------------------------------------------------------------------


def q_streaming_ewma_user_value(spark, sf_dir):
    """STREAMING TWIN of ``ewma_user_value`` — the fixed-anchor decay
    sum is a plain weighted SUM, i.e. order-independent and mergeable,
    so the streaming form is an ordinary streaming aggregation (state =
    one partial sum per user, no custom stateful operator, no
    event-order assumption across micro-batches). Held to the SAME
    DuckDB oracle as the batch query: streaming == batch == oracle.

    This is the reason to prefer anchor-decay over recursive EWMA
    (s_t = α·x + (1−α)·s_{t-1}) in a pipeline: the recursive form's
    state transition depends on arrival ORDER and cannot be verified
    against a batch oracle under micro-batch nondeterminism; the
    anchored form is associative-commutative and exact."""
    from .extensions import _run_stream, _stream_table

    ev = _stream_table(spark, sf_dir, "events", "streaming_ewma_user_value")
    ev = ev.withColumn("__ep", F.col("ts").cast("long"))
    age = F.expr(f"cast(({DECAY_ANCHOR}L - __ep) div 86400 as int)")
    ev = ev.withColumn("__age", F.least(F.lit(DECAY_MAX_AGE_DAYS), age))
    w = F.lit(1.0) / F.expr("cast(shiftleft(1L, __age) as double)")
    agg = ev.groupBy("user_id").agg(
        F.sum((F.col("value") * w).cast(DEC)).alias("__dv"),
        F.min("__age").alias("freshest_age_days"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return _run_stream(agg, "complete").select(
        "user_id",
        F.round(F.col("__dv").cast("double"), 6).alias("decayed_value"),
        "freshest_age_days",
        "n_events",
    )


FEATOPS_ORACLES["streaming_ewma_user_value"] = FEATOPS_ORACLES["ewma_user_value"]
FEATOPS_QUERIES["streaming_ewma_user_value"] = q_streaming_ewma_user_value


# ---------------------------------------------------------------------------
# Variant ingest + corrupt-record audit (semi-structured robustness)
# ---------------------------------------------------------------------------

CORRUPT_MASK_MOD = 11  # props truncated (invalid JSON) when event_id % 11 == 0


def q_variant_props_audit(spark, sf_dir):
    """SEMI-STRUCTURED INGEST AUDIT over Spark 4's VARIANT type:
    ``try_parse_json`` + ``try_variant_get`` extract typed fields while
    malformed payloads degrade to NULL instead of failing the job — the
    permissive-ingest contract every raw landing zone needs. The
    testdata's props are all valid JSON, so corruption is SIMULATED
    deterministically (event_id % 11 == 0 → payload truncated to 3
    chars) as part of the query spec; the audit reports, per
    event_type, row/corrupt counts and the k-sum over rows that
    survived parsing.

    VARIANT vs get_json_object (q_json_extract_props): variant parses
    ONCE into a binary-encoded value that any number of typed
    extractions then read without re-parsing — the right shape when a
    pipeline extracts many fields from big payloads.

    100 TB notes: map-only parse + one map-side-combinable aggregate;
    corrupt rows are COUNTED, never silently dropped (no silent
    caps)."""
    ev = _events(spark, sf_dir)
    payload = F.when(
        F.col("event_id") % CORRUPT_MASK_MOD == 0,
        F.substring(F.col("props"), 1, 3),
    ).otherwise(F.col("props"))
    k = F.try_variant_get(F.try_parse_json(payload), "$.k", "long")
    return (
        ev.select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__k").isNull().cast("long")).alias("n_corrupt"),
            F.sum("__k").alias("sum_k"),
        )
    )


FEATOPS_ORACLES["variant_props_audit"] = f"""
WITH payloads AS (
  SELECT event_type,
         CASE WHEN event_id % {CORRUPT_MASK_MOD} = 0
              THEN substr(props, 1, 3) ELSE props END AS s
  FROM events
),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(s)
              THEN CAST(json_extract_string(s, '$.k') AS BIGINT) END AS k
  FROM payloads
)
SELECT event_type,
       count(*) AS n_rows,
       SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS n_corrupt,
       SUM(k) AS sum_k
FROM parsed
GROUP BY 1
"""
FEATOPS_QUERIES["variant_props_audit"] = q_variant_props_audit


# ---------------------------------------------------------------------------
# Cogrouped-pandas as-of twin (the last Pandas-API escape hatch)
# ---------------------------------------------------------------------------


def q_asof_price_cogroup_pandas(spark, sf_dir):
    """COGROUPED applyInPandas twin of ``asof_price`` — the same
    backward 7-day as-of semantics executed as
    ``views.cogroup(purchases).applyInPandas(merge_asof)``, held to the
    SAME oracle as the JVM union-window operator. Completes the
    Pandas-API escape-hatch family (grouped: grouped_median_pandas;
    map: multimodal_extract/mapInPandas; arrow: arrow_batch_stats;
    UDTF: udtf_ngram_explode; stateful: streaming_stateful_counter) —
    cogroup is the one to reach for when per-key logic needs BOTH
    sides as aligned pandas frames (e.g. pandas merge_asof, curve
    interpolation against a reference series).

    Tie discipline: purchases sort by (pts, pval) so merge_asof's
    take-last-row resolves equal timestamps to MAX pval — the operator
    contract (SURVEY §7.3.2). Views with no eligible purchase keep a
    null price (left semantics), including users with NO purchase at
    all (merge_asof ``by=`` leaves rows of an absent right group NaN).

    Scale discipline — cogroup on a HASH BUCKET, not the entity key:
    a per-user cogroup materializes one pandas frame per user
    (billions of micro-groups at 100 TB; measured 6.5 s at sf0.1 from
    per-group overhead alone). Instead both sides cogroup on
    pmod(hash(user_id), B) and ``pd.merge_asof(..., by='user_id')``
    does the per-user alignment INSIDE each bucket — task count is
    bounded at B whatever the user cardinality, per-bucket work is a
    single vectorized asof sweep, and the semantics are unchanged
    (measured 6.5 → ~1 s at sf0.1). ONE shuffle per side on the
    bucket key; the JVM twin (one union-window shuffle, zero Python)
    remains the hot path — bench shows the gap."""
    import pandas as pd

    n_buckets = 64
    bucket = F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("__b")
    # Two _events() calls on purpose: the sides must NOT share a scan.
    # With one scan both sides' user_id carry the same attribute id and
    # the cogroup Arrow projection dedupes the shared column out of the
    # right frame (observed: right arrives without user_id). Separate
    # scans also keep each side's event_type filter pushed down.
    views = _events(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ets"), bucket
    )
    purchases = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", F.col("ts").cast("long").alias("pts"),
        F.col("value").alias("pval"), bucket,
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("ets")
        if right.empty:
            out = left.assign(asof_purchase_value=pd.Series(dtype="float64"))
        else:
            # global sort on the asof key; (pts, pval) makes
            # merge_asof's last-row-wins pick MAX pval on ties within
            # each by-group (equal-pts rows of a user stay
            # pval-ascending however other users interleave).
            right = right.sort_values(["pts", "pval"])[
                ["user_id", "pts", "pval"]
            ]
            out = pd.merge_asof(
                left,
                right,
                left_on="ets",
                right_on="pts",
                by="user_id",
                direction="backward",
                tolerance=7 * 86400,
                allow_exact_matches=True,
            ).rename(columns={"pval": "asof_purchase_value"})
        return out[["event_id", "user_id", "ets", "asof_purchase_value"]]

    return (
        views.groupby("__b")
        .cogroup(purchases.groupby("__b"))
        .applyInPandas(
            merge,
            schema="event_id long, user_id long, ets long, "
            "asof_purchase_value double",
        )
    )


from .core import ORACLE_ASOF_PRICE  # noqa: E402  (same contract, same oracle)

FEATOPS_ORACLES["asof_price_cogroup_pandas"] = ORACLE_ASOF_PRICE
FEATOPS_QUERIES["asof_price_cogroup_pandas"] = q_asof_price_cogroup_pandas


# ---------------------------------------------------------------------------
# Population Stability Index — feature-drift monitoring
# ---------------------------------------------------------------------------

PSI_SPLIT_EPOCH = 1_705_276_800  # 2024-01-15 00:00:00 UTC (mid-window)
PSI_BINS = 10
PSI_FLOOR = 1e-06  # zero-bin clamp, the standard PSI guard


def q_drift_psi(spark, sf_dir):
    """POPULATION STABILITY INDEX of the value distribution, first
    half-month (baseline) vs second (current) — THE feature-drift
    monitor of a production scoring pipeline (rule of thumb: PSI > 0.2
    means the feature shifted enough to retrain). Bin edges are the
    baseline's deciles (exact percentile, rounded to 6 dp — the
    winsorize boundary discipline), shares are exact-count ratios, and
    each bin contributes (p − q)·ln(p/q) with zero-share bins clamped
    to 1e-6 in BOTH engines.

    Determinism: ln is the only libm call; its argument is a ratio of
    two identically-derived doubles and the result is rounded at 10 dp
    per BIN before any accumulation (the doc_lm_score discipline), so
    bin rows hash bit-exactly.

    100 TB notes: one percentile pass over the (time-prunable)
    baseline window, then ONE scan of both windows with the 9 rounded
    edges folded in as literals via the broadcast edge row — two
    map-side-combinable aggregates total; the per-bin output is ≤B
    rows."""
    ev = _events(spark, sf_dir).withColumn("__ep", F.col("ts").cast("long"))
    base = ev.filter(F.col("__ep") < PSI_SPLIT_EPOCH)
    probs = [i / PSI_BINS for i in range(1, PSI_BINS)]
    edges = base.agg(
        F.transform(
            F.percentile(F.col("value"), F.array(*[F.lit(p) for p in probs])),
            lambda e: F.round(e, 6),
        ).alias("__edges")
    )
    # edge list attaches as a SCALAR subquery (an array literal once
    # evaluated), and the window totals come from a global window over
    # the per-bin frame — ≤B rows by construction, so the single
    # window partition is bounded; neither 1-row attach may be a
    # crossJoin (plans as BroadcastNestedLoopJoin, sweep-banned)
    from pyspark.sql import Window

    binned = (
        ev.withColumn("__edges", edges.scalar())
        .withColumn(
            "bin",
            F.aggregate(
                F.col("__edges"),
                F.lit(0),
                lambda acc, e: acc + (F.col("value") > e).cast("int"),
            ),
        )
        .withColumn("is_base", (F.col("__ep") < PSI_SPLIT_EPOCH).cast("long"))
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("is_base").alias("__nb"),
        F.sum(1 - F.col("is_base")).alias("__nc"),
    )
    wg = Window.partitionBy()
    tb = F.sum("__nb").over(wg).cast("double")
    tc = F.sum("__nc").over(wg).cast("double")
    p = F.greatest(F.col("__nb") / tb, F.lit(PSI_FLOOR))
    q = F.greatest(F.col("__nc") / tc, F.lit(PSI_FLOOR))
    return per_bin.select(
        "bin",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("q_cur"),
        F.round((p - q) * F.log(p / q), 10).alias("psi_term"),
    )


FEATOPS_ORACLES["drift_psi"] = f"""
WITH e AS (
  SELECT value, {epoch_sql("ts")} AS ep FROM events
),
edges AS (
  SELECT list_transform(
           [{", ".join(f"percentile_cont({i}/{PSI_BINS}.0) WITHIN GROUP (ORDER BY value)" for i in range(1, PSI_BINS))}],
           x -> round(x, 6)) AS es
  FROM e WHERE ep < {PSI_SPLIT_EPOCH}
),
binned AS (
  SELECT len(list_filter(es, x -> value > x)) AS bin,
         CASE WHEN ep < {PSI_SPLIT_EPOCH} THEN 1 ELSE 0 END AS is_base
  FROM e CROSS JOIN edges
),
per_bin AS (
  SELECT bin, SUM(is_base) AS nb, SUM(1 - is_base) AS nc FROM binned GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(is_base) AS DOUBLE) AS tb,
         CAST(SUM(1 - is_base) AS DOUBLE) AS tc
  FROM binned
)
SELECT CAST(bin AS INTEGER) AS bin,
       round(greatest(nb / tb, {PSI_FLOOR}), 6) AS p_base,
       round(greatest(nc / tc, {PSI_FLOOR}), 6) AS q_cur,
       round((greatest(nb / tb, {PSI_FLOOR}) - greatest(nc / tc, {PSI_FLOOR}))
             * ln(greatest(nb / tb, {PSI_FLOOR}) / greatest(nc / tc, {PSI_FLOOR})), 10) AS psi_term
FROM per_bin CROSS JOIN tot
"""
FEATOPS_QUERIES["drift_psi"] = q_drift_psi


# ---------------------------------------------------------------------------
# Rare-category collapse — the cardinality-control encoder step before
# one-hot / target encoding (unseen-at-serving safety valve)
# ---------------------------------------------------------------------------

RARE_MIN_PPM = 10_000  # categories under 1% of rows collapse to OTHER


def q_rare_category_collapse(spark, sf_dir):
    """RARE-CATEGORY COLLAPSE: replace every categorical value whose
    corpus share is under RARE_MIN_PPM (1%) with the 'OTHER' bucket — the
    cardinality-control step that precedes one-hot/target encoding
    (rare levels carry no trainable signal, blow up the feature space,
    and the OTHER bucket doubles as the unseen-at-serving path). The
    category here is the event props' k field (JSON-extracted; ~100
    levels whose shares straddle the 1% line, so both branches are
    exercised at every SF); output is row-level: event_id, raw
    category, released category, and the category's exact ppm share so
    the collapse threshold is auditable per row.

    Exactness: share_ppm = cnt·1e6 DIV N (floor; both engines integer)
    — no float crosses the keep/collapse boundary.

    100 TB notes: one bounded-ish aggregate (channel domain) + a join
    back keyed on the category; the category stat table is
    corpus-derived → pinned shuffle_hash (never estimate-broadcast);
    N rides as a scalar subquery. The JSON extraction is JVM
    ``get_json_object`` — no UDF."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("category"),
    )
    n_total = ev.select(F.count(F.lit(1)).alias("n"))
    stats = ev.groupBy("category").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        ev.join(stats.hint("shuffle_hash"), "category")
        .withColumn("__N", n_total.scalar())
        .withColumn(
            "share_ppm", F.expr("CAST(cnt * 1000000 DIV __N AS BIGINT)")
        )
        .select(
            "event_id",
            "category",
            F.when(
                F.col("share_ppm") >= RARE_MIN_PPM, F.col("category")
            ).otherwise(F.lit("OTHER")).alias("category_released"),
            "share_ppm",
        )
    )


FEATOPS_ORACLES["rare_category_collapse"] = f"""
WITH ev AS (
  SELECT event_id, json_extract_string(props, '$.k') AS category
  FROM events
),
stats AS (SELECT category, count(*) AS cnt FROM ev GROUP BY 1),
n AS (SELECT count(*) AS total FROM ev)
SELECT event_id, category,
       CASE WHEN cnt * 1000000 // total >= {RARE_MIN_PPM} THEN category
            ELSE 'OTHER' END AS category_released,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm
FROM ev JOIN stats USING (category) CROSS JOIN n
"""
FEATOPS_QUERIES["rare_category_collapse"] = q_rare_category_collapse


# ---------------------------------------------------------------------------
# Kaplan–Meier survival curve — censoring-aware lifetime analysis
# (churn/retention as a survival function, not a point rate)
# ---------------------------------------------------------------------------

# Right-censoring cutoff: customers whose LAST order predates this are
# churned (event observed); later last-orders are censored — still
# alive at the end of the observation window (orders span 1995..2001).
KM_CUTOFF_EPOCH = 965_088_000  # 2000-08-01 UTC
KM_RATIO_FLOOR = 1e-12  # (n-d)/n clamp when everyone at risk dies at t


def q_survival_km_curve(spark, sf_dir):
    """KAPLAN–MEIER estimator per market segment: lifetime = days
    between a customer's first and last order; the event (churn) is
    observed when the last order predates the cutoff, otherwise the
    lifetime is RIGHT-CENSORED — the distinction a naive "avg days
    active" rolls over (dropping censored rows biases lifetimes low;
    counting them as deaths biases the curve low). At each distinct
    event time t: n_risk = customers with lifetime ≥ t, d = events at
    exactly t, and the survival function is Π (1 − d/n). The curve
    ships as km_logsum = Σ round(ln((n−d)/n), 10): each ln is rounded
    at 10 dp BEFORE accumulation (the drift_psi/doc_lm_score libm
    discipline — the only libm call sits on identically-derived
    doubles), summed in exact DECIMAL(38,10), so rows hash bit-exactly
    cross-engine. The (n−d)/n ratio is floor-clamped at 1e-12 in BOTH
    engines for the everyone-dies-at-t tail row (ln 0 otherwise).

    100 TB notes: one orders scan → per-customer min/max epoch
    (map-side combinable), one segment join, then per-(segment, day)
    aggregation — the windowed prefix sums run over the AGGREGATED
    relation (segments × distinct lifetimes, ≤ a few thousand rows by
    construction), never the fact table, so the per-segment window
    partitions are bounded metadata, not data."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ep = F.col("o_orderdate").cast("timestamp").cast("long")
    life = (
        o.groupBy("o_custkey")
        .agg(F.min(ep).alias("__first"), F.max(ep).alias("__last"))
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            ((F.col("__last") - F.col("__first")) / 86400)
            .cast("bigint")
            .alias("dur_days"),
            (F.col("__last") < KM_CUTOFF_EPOCH).cast("long").alias("__event"),
        )
    )
    per_t = life.groupBy("segment", "dur_days").agg(
        F.sum("__event").alias("d_events"),
        F.count(F.lit(1)).alias("__tot"),
    )
    w_all = Window.partitionBy("segment")
    w_prev = (
        Window.partitionBy("segment")
        .orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("segment")
        .orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        per_t.withColumn(
            "n_risk",
            F.sum("__tot").over(w_all)
            - F.coalesce(F.sum("__tot").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "__term",
            F.when(
                F.col("d_events") > 0,
                F.round(
                    F.log(
                        F.greatest(
                            (F.col("n_risk") - F.col("d_events")).cast("double")
                            / F.col("n_risk").cast("double"),
                            F.lit(KM_RATIO_FLOOR),
                        )
                    ),
                    10,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast(DEC),
        )
        .withColumn("km_logsum", F.round(F.sum("__term").over(w_cum).cast("double"), 10))
    )
    return staged.filter(F.col("d_events") > 0).select(
        "segment", "dur_days", "n_risk", "d_events", "km_logsum"
    )


FEATOPS_ORACLES["survival_km_curve"] = f"""
WITH life AS (
  SELECT c_mktsegment AS segment,
         (MAX({epoch_sql("o_orderdate")}) - MIN({epoch_sql("o_orderdate")})) // 86400
           AS dur_days,
         CASE WHEN MAX({epoch_sql("o_orderdate")}) < {KM_CUTOFF_EPOCH}
              THEN 1 ELSE 0 END AS event
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY o_custkey, c_mktsegment
),
per_t AS (
  SELECT segment, dur_days, SUM(event) AS d_events, COUNT(*) AS tot
  FROM life GROUP BY 1, 2
),
staged AS (
  SELECT segment, dur_days, d_events,
         SUM(tot) OVER (PARTITION BY segment)
           - COALESCE(SUM(tot) OVER (
               PARTITION BY segment ORDER BY dur_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk,
         tot
  FROM per_t
),
terms AS (
  SELECT segment, dur_days, d_events, n_risk,
         CASE WHEN d_events > 0
              THEN round(ln(greatest(
                     CAST(n_risk - d_events AS DOUBLE) / n_risk,
                     {KM_RATIO_FLOOR})), 10)
              ELSE 0.0 END AS term
  FROM staged
),
cum AS (
  SELECT segment, dur_days, d_events, n_risk,
         SUM(CAST(term AS DECIMAL(38,10))) OVER (
           PARTITION BY segment ORDER BY dur_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdec
  FROM terms
)
SELECT segment, dur_days, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_events AS BIGINT) AS d_events,
       round(CAST(CAST(cumdec AS VARCHAR) AS DOUBLE), 10) AS km_logsum
FROM cum WHERE d_events > 0
"""
FEATOPS_QUERIES["survival_km_curve"] = q_survival_km_curve
