"""Large-scale training-data pipeline operators (BASELINE.json
extension surface): deduplication, similarity search, text analysis,
multimodal plumbing — over the driver's ``documents`` / ``embeddings``
tables, each with a DuckDB oracle where SQL-expressible.

Portability contract:
- Hashing uses md5 (present in both engines) reduced to a BIGINT via
  the first 8 hex chars: Spark ``conv(substr(md5(x),1,8),16,10)``,
  DuckDB ``CAST('0x'||substr(md5(x),1,8) AS BIGINT)`` — verified to
  produce identical values.
- Tokenization is lower + split on ``\\s+`` with empty tokens removed,
  identical in both dialects.
- All ratio features are integer-division-to-double (deterministic).

Scale notes are in each docstring: every operator here is designed so
the same plan shape survives 100 TB (shuffle on content keys, no
driver-side loops, LSH instead of quadratic self-joins).
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, PySparkValueError
from pyspark.sql import DataFrame, functions as F

from ..operators.ranking import top_k_per_group
from .core import _t  # learnops, webops and the tests import it from here

N_MINHASH = 8          # minhash permutations
N_BANDS = 4            # LSH bands (rows per band = 2)
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.2


# The streaming gates' replay harness and its per-gate side channels
# (STREAM_STATE_METRICS, STREAM_OP_SECONDS) live in streaming/ledger.py;
# re-exported here for bench.py and the tests.
from ..streaming.ledger import (  # noqa: E402, F401
    STREAM_OP_SECONDS,
    STREAM_STATE_METRICS,
    replay,
    timed_foreach,
)


# Circuit breaker for the intentionally-quadratic recall baselines
# (``dedup_ngram_jaccard``, ``dedup_embedding_cosine``): they exist to
# measure the recall of their scale twins at SMALL sf, but a user who
# grabs one by name at cluster scale gets an O(n^2) plan. Above this
# input size they refuse to run and point at the twin instead.
EXACT_BASELINE_MAX_ROWS = 50_000


def _guard_exact_baseline(inputs: DataFrame, name: str, twin: str) -> None:
    """Refuse to launch an all-pairs plan over a large input. The count
    is a cheap metadata/scan action next to the quadratic join it
    prevents. Override for a deliberately-sized recall study via
    SPARK_GRAFT_EXACT_BASELINE_MAX_ROWS."""
    limit = int(
        os.environ.get("SPARK_GRAFT_EXACT_BASELINE_MAX_ROWS", EXACT_BASELINE_MAX_ROWS)
    )
    n = inputs.count()
    if n > limit:
        raise ValueError(
            f"{name} is an exact all-pairs recall baseline, guarded at "
            f"{limit} input rows (got {n}): quadratic at scale. Use "
            f"{twin} instead, or raise SPARK_GRAFT_EXACT_BASELINE_MAX_ROWS "
            "for a deliberately-sized recall study."
        )


# ---- portable hash / token expressions (Spark side) -----------------------


def _h(col) -> F.Column:
    """64->32-bit content hash via md5 prefix (portable to DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


H_SQL = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

TOKENS_SPARK = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
TOKENS_DUCK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

# word 3-gram shingles over the token array (0-based in Spark, 1-based in DuckDB)
SHINGLES_SPARK = (
    "CASE WHEN size(__toks) >= 3 THEN "
    "array_distinct(transform(sequence(0, size(__toks) - 3), "
    "i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))) "
    "ELSE array() END"
)
SHINGLES_DUCK = (
    "CASE WHEN len(__toks) >= 3 THEN "
    "list_distinct([__toks[i] || ' ' || __toks[i+1] || ' ' || __toks[i+2] "
    "FOR i IN range(1, len(__toks) - 1)]) "
    "ELSE [] END"
)


def _spread(spark, df: DataFrame) -> DataFrame:
    """Re-spread an under-partitioned scan across the cluster —
    conditional, so it is a NO-OP whenever the scan already arrives
    parallel. Since r9 the ``_t`` loaders serve large single-file
    testdata through the multi-split mirror (``sources/splits.py``), so
    on the bench path this adds no Exchange (asserted by
    tests/test_splits.py) — exactly the real-cluster behavior, where a
    100 TB table arrives in thousands of splits. The fallback
    repartition remains for frames built from genuinely 1-split inputs
    (e.g. sub-threshold tables feeding CPU-heavy shingling)."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def doc_shingles_df(spark, d: DataFrame) -> DataFrame:
    """(doc_id, shingle) — exploded distinct word-3-gram shingles from
    a documents DataFrame (needs ``doc_id``, ``text``).

    explode_outer, not explode: plain explode makes Catalyst infer a
    ``size(shingles) > 0`` filter that embeds the whole shingle
    expression and gets pushed below the repartition exchange — the
    expensive expression would then run twice, once on the
    single-partition scan side. explode_outer infers nothing; the
    null rows (docs with < 3 tokens) are dropped after."""
    d = _spread(spark, d)
    return (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .withColumn("__sh", F.expr(SHINGLES_SPARK))
        .select("doc_id", F.explode_outer("__sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )


def _doc_shingles(spark, sf_dir) -> DataFrame:
    return doc_shingles_df(spark, _t(spark, sf_dir, "documents"))


def minhash_signature(sh: DataFrame) -> DataFrame:
    """Per-doc k=N_MINHASH MinHash signature from (doc_id, s) shingle
    rows — one map-side-combinable groupBy (min is associative), the
    only shuffle in signature building."""
    mins = [
        F.min(_h(F.concat(F.lit(f"{k}|"), F.col("s")))).alias(f"m{k}")
        for k in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*mins)


SHINGLES_CTE_DUCK = f"""
toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
sh AS (
  SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM toks
)
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content digest, keep min doc_id
    (one shuffle on the digest; at 100 TB the digest groupBy is the
    canonical map-side-combinable dedup)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup — EXACT BASELINE ONLY (recall
    measurement at small SF): distinct word-3-gram shingles, shingle
    self-join, |A∩B| / |A∪B| >= threshold. Quadratic within a shingle
    bucket; guarded by a row-count circuit breaker — the production
    plan is ``dedup_lsh_verified`` (LSH candidates → exact Jaccard on
    candidates only)."""
    _guard_exact_baseline(
        _t(spark, sf_dir, "documents"), "dedup_ngram_jaccard", "dedup_lsh_verified"
    )
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {SHINGLES_CTE_DUCK},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


def lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from a MinHash signature frame
    — N_BANDS bands of 2 rows each. This IS the persistable signature
    index: the incremental path writes these rows once per batch and
    later batches probe them by (band, key) equi-join."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            F.col(f"m{2 * b}").cast("string"),
                            F.col(f"m{2 * b + 1}").cast("string"),
                        ).alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH candidate generation: shingle → k=8 seeded
    minhashes → 4 bands of 2 rows → band-bucket self-join. Linear in
    corpus size (no all-pairs): THE 100 TB dedup plan — each band join
    shuffles on the band key only."""
    sh = _doc_shingles(spark, sf_dir)
    sig = minhash_signature(sh)
    bands = lsh_bands(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _lsh_ctes() -> str:
    """Shared DuckDB CTE block: shingles → minhash signature → LSH
    bands → candidate pairs (used by the LSH gate and the
    LSH→exact-verify composition)."""
    min_cols = ",\n         ".join(
        "min({h}) AS m{k}".format(h=H_SQL.format(x=f"'{k}|' || s"), k=k)
        for k in range(N_MINHASH)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, m{2*b}::VARCHAR || ':' || m{2*b+1}::VARCHAR AS key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""{SHINGLES_CTE_DUCK},
sig AS (
  SELECT doc_id,
         {min_cols}
  FROM sh GROUP BY doc_id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_lsh_ctes()}
SELECT doc_a, doc_b, n_shared_bands FROM cand
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash document signature (16-bit): per distinct token, hash;
    per bit, sum +1/-1 weighted votes; signature bit = vote > 0.
    GroupBy doc then a single pass — fully map-side-combinable."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.array_distinct("__toks")).alias("t"))
        .withColumn("h", _h(F.col("t")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    sig = tok.groupBy("doc_id").agg(*votes)
    bits = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return sig.select("doc_id", bits.cast("bigint").alias("simhash16"))


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
tok AS (
  SELECT doc_id, {H_SQL.format(x='t')} AS h
  FROM (SELECT doc_id, unnest(list_distinct(__toks)) AS t FROM toks)
),
sig AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16 FROM sig
"""


ORACLE_DEDUP_SIMHASH = _simhash_oracle()


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _norm(vec) -> F.Column:
    return F.sqrt(
        F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _cos(a, b, na, nb) -> F.Column:
    """Cosine of ``a``·``b`` over precomputed norms, rounded to 6 places."""
    return F.round(_dot(a, b) / (na * nb), 6)


def _cos_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of ``scored`` by (cos_sim desc, cand_id asc),
    keeping the 1-based ``rank`` — the similarity-search output contract."""
    order = [F.col("cos_sim").desc(), F.col("cand_id").asc()]
    return top_k_per_group(scored, "query_id", order, k, "rank", keep_rank=True)


def _vectors(spark, sf_dir, id_alias: str, vec_alias: str, norm_alias: str):
    """Embedding side with its L2 norm precomputed ONCE per vector —
    the naive per-pair cosine recomputes both norms for every pair
    (2/3 of the fold work for O(n^2) pairs). Same bits: the fold per
    vector is unchanged, only hoisted out of the join."""
    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    v = F.col("embedding").cast("array<double>")
    return e.select(
        F.col("vec_id").alias(id_alias),
        v.alias(vec_alias),
        _norm(v).alias(norm_alias),
        F.col("label"),
    )


# ---- IVF coarse index: build once, consumed by ANN + blocked dedup --------

# IVF list count SCALES with the corpus: k = ceil(n / IVF_TARGET_BLOCK),
# clamped to [IVF_K_MIN, IVF_K_MAX]. A fixed k makes blocks n/k wide, so
# in-block candidate pairs grow O(n^2/k) — the round-5 bench measured 16x
# pairs for 4x vectors at fixed k=8. With a TARGET BLOCK WIDTH the
# expected block stays ~64 rows at every scale, so total in-block pairs
# grow O(n * target_block) — linear. At this repo's SFs: n=500 -> k=8
# (sf0.001/sf0.01, unchanged artifacts), n=2000 -> k=32 (sf0.1).
# Past IVF_LITERAL_K_MAX lists the assignment switches from the k x d
# literal-array expression to a broadcast join against the centroid
# table (`_assign_via_join` — bit-equivalent, test-pinned), so IVF_K_MAX
# is bounded by what the driver can hold as the centroid list
# (k x d floats), not by expression size. Beyond ~millions of lists the
# flat coarse quantizer itself is the wrong design (hierarchical /
# multi-level IVF territory) — documented here, out of scope.
IVF_TARGET_BLOCK = 64
IVF_K_MIN = 2
IVF_K_MAX = 4096
IVF_LITERAL_K_MAX = 64
IVF_ITERS = 5


def _ivf_k(n: int) -> int:
    """List count for an n-vector corpus (target ~IVF_TARGET_BLOCK rows
    per list; see block-width comment above)."""
    return max(IVF_K_MIN, min(IVF_K_MAX, -(-int(n) // IVF_TARGET_BLOCK)))
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
IVF_ARTIFACT_ROOT = os.path.join(_REPO_ROOT, "artifacts", "ivf")
_IVF_CACHE: dict[str, list] = {}


def _artifact_subdir(sf_dir: str) -> str:
    """Per-corpus artifact subdirectory: ``<basename>_<md5(absdir)[:8]>``
    — the splits._mirror_dir convention (r9 ADVICE: basename-only keys
    let any two ``…/sf0.1`` corpora overwrite/thrash each other's
    committed artifacts). The tag hashes the ABSOLUTE normalized path,
    so the same driver corpus maps to the same committed artifact on
    every checkout, while a different directory that happens to share
    a basename gets its own."""
    import hashlib

    d = os.path.abspath(os.path.normpath(sf_dir))
    return f"{os.path.basename(d)}_{hashlib.md5(d.encode()).hexdigest()[:8]}"


def ivf_artifact_dir(sf_dir: str) -> str:
    """Artifact dir for one corpus: artifacts/ivf/<basename_tag>."""
    return os.path.join(IVF_ARTIFACT_ROOT, _artifact_subdir(sf_dir))


# How a freshness read of a committed artifact fails, each meaning
# "rebuild": a garbage, truncated or zero-byte part file
# (Py4JJavaError), a missing directory (AnalysisException), a meta row
# without one of the fingerprint columns (PySparkValueError). A
# zero-row meta is no error: ``first()`` returns None, checked as such.
_STALE_READ = (Py4JJavaError, AnalysisException, PySparkValueError)


def _commit_artifact(spark, path: str, df: DataFrame) -> None:
    """Write ``df`` to ``<path>.__tmp__`` and swap it in, so readers
    never see a partial artifact. coalesce(1): the artifacts are small
    at these SFs (k centroids, ~1e3 edges, one corpus column); at real
    scale drop the coalesce and keep them partitioned."""
    from ..sources.fsutil import swap_dirs

    tmp = path + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_dirs(spark, tmp, path)


def _fingerprinted_artifact(spark, root, cache, sf_dir, name, fingerprint, build):
    """Load-or-build of the artifact ``<root>/<name>`` whose corpus
    identity sits in the one-row table ``<root>/meta``. ``root`` is the
    corpus's artifact dir; ``cache`` memoizes the checked path and its
    schema per ``sf_dir``, so a memo hit runs no Spark job (not even a
    schema inference); ``fingerprint()`` returns the current identity as
    {column: int} (stored as bigint columns, so parameters such as
    DBSCAN's can join the corpus terms); ``build()`` returns the
    artifact's DataFrame. Both thunks run only on a memo miss, and
    ``build`` only when the meta is absent, unreadable, empty or
    differs from the fingerprint.

    Data first, meta last: a crash between the two leaves a stale meta,
    which forces a rebuild, never serves a silently wrong artifact. An
    error inside ``build``, or while writing its result, propagates
    with the committed data and meta untouched."""
    from ..sources.fsutil import has_committed_data

    key = os.path.normpath(sf_dir)
    if key not in cache:
        path, meta = os.path.join(root, name), os.path.join(root, "meta")
        cur = fingerprint()
        fresh = False
        if has_committed_data(spark, path) and has_committed_data(spark, meta):
            try:
                m = spark.read.parquet(meta).first()
                fresh = m is not None and [m[c] for c in cur] == [*cur.values()]
            except _STALE_READ:
                pass
        if not fresh:
            _commit_artifact(spark, path, build())
            _commit_artifact(spark, meta, spark.createDataFrame(
                [tuple(cur.values())], ", ".join(f"{c} bigint" for c in cur)
            ))
        cache[key] = path, spark.read.parquet(path).schema
    path, schema = cache[key]
    return spark.read.schema(schema).parquet(path)


# Oracle strings are built against the driver's sf0.01 gate; the local
# gate rebinds them for other SFs via rebind_ivf_oracle().
IVF_ORACLE_DIR = ivf_artifact_dir("/root/testdata/sf0.01")


def rebind_ivf_oracle(sql: str, sf_dir: str) -> str:
    """Point an IVF/PQ-consumer oracle at the artifact dirs for
    ``sf_dir`` (oracle strings are built for the driver's sf0.01)."""
    sql = sql.replace(IVF_ORACLE_DIR, ivf_artifact_dir(sf_dir))
    return sql.replace(PQ_ORACLE_DIR, pq_artifact_dir(sf_dir))


def _centroid_lit_sql(ordered) -> tuple[str, str]:
    """(array<array<double>>, array<bigint>) literal SQL for the
    centroid matrix and the cid list. Built as ONE SQL string parsed
    JVM-side: constructing k*d literal Columns through py4j costs
    thousands of round-trips (~1-2 s per call at k=32, d=64 — it was
    the dominant cost of every multiprobe invocation); one expr parse
    is milliseconds. ``repr(float)+'D'`` is the shortest decimal
    representation with Spark's double-literal suffix — verified to
    round-trip bit-exactly (incl. scientific notation and denormals)."""
    c_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cv) + ")"
            for _, cv in ordered
        )
        + ")"
    )
    cid_sql = "array(" + ",".join(f"{int(cid)}L" for cid, _ in ordered) + ")"
    return c_sql, cid_sql


def _kmeans_assign(centroids, vec=None) -> F.Column:
    """Nearest-centroid id for vector column ``vec`` against driver-held
    centroids embedded as LITERAL arrays — a pure narrow column
    expression: no crossJoin, no window, no shuffle for assignment.
    Ties break to the lowest cid (array_position returns the first
    minimum; centroids are ordered by cid)."""
    vec = F.col("v") if vec is None else vec
    c_sql, cid_sql = _centroid_lit_sql(sorted(centroids))
    dists = F.transform(
        F.expr(c_sql),
        lambda cv: F.aggregate(
            F.zip_with(vec, cv, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, val: acc + val,
        ),
    )
    return F.element_at(
        F.expr(cid_sql), F.array_position(dists, F.array_min(dists)).cast("int")
    )


def _assign_via_join(e: DataFrame, centroids, vec_col: str = "v", id_col: str = "vec_id") -> DataFrame:
    """(id_col, cid) nearest-centroid assignment via a broadcast join
    against the centroid TABLE — the large-k twin of ``_kmeans_assign``
    (the literal expression stops being reasonable past
    IVF_LITERAL_K_MAX lists; the table scales to any k the driver can
    hold). Same left-fold squared-L2 over bit-identical centroid
    values and the same ties-to-lowest-cid rule (struct min over
    (distance, cid)), so the two paths agree bit-for-bit — pinned by
    ``test_assign_join_equals_literal``. The constant-key join plans
    as a BroadcastHashJoin of the k-row table: k x N distance
    evaluations, the same work the expression does, shaped as a join
    the optimizer can size. ONE implementation: delegates to
    ``_join_assign_with_dist`` and drops the distance column."""
    return _join_assign_with_dist(e, centroids, vec_col, id_col).select(
        id_col, "cid"
    )


def _join_assign_with_dist(
    e: DataFrame, centroids, vec_col: str = "v", id_col: str = "vec_id"
) -> DataFrame:
    """(id_col, cid, sqdist) — the broadcast-join assignment with the
    6-dp-rounded squared L2 to the assigned centroid. The single body
    both ``_assign_via_join`` (drops sqdist) and ``_assign_with_dist``
    (large-k branch) call, so the tie rule / fold can never drift
    between the build and maintenance paths."""
    spark = e.sparkSession
    ordered = sorted(centroids)
    cent = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in ordered],
        "cid bigint, cv array<double>",
    )
    j = (
        e.select(id_col, F.col(vec_col).alias("__v"))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(cent.withColumn("__k", F.lit(1))), "__k")
    )
    dist = F.aggregate(
        F.zip_with(F.col("__v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, val: acc + val,
    )
    best = j.select(
        id_col, F.struct(dist.alias("d"), F.col("cid").alias("cid")).alias("__dc")
    )
    return best.groupBy(id_col).agg(F.min("__dc").alias("__dc")).select(
        id_col,
        F.col("__dc.cid").alias("cid"),
        F.round(F.col("__dc.d"), 6).alias("sqdist"),
    )


def _assign_frame(e: DataFrame, centroids) -> DataFrame:
    """(vec_id, cid) assignment by whichever path fits k: literal
    expression up to IVF_LITERAL_K_MAX lists, broadcast join beyond."""
    if len(centroids) <= IVF_LITERAL_K_MAX:
        return e.withColumn("cid", _kmeans_assign(centroids)).select("vec_id", "cid")
    return _assign_via_join(e, centroids)


def _ivf_probes(centroids, vec, nprobe: int = 2) -> F.Column:
    """Probe list for multiprobe search: the vector's own assignment
    first (identical to ``_kmeans_assign`` — keeps the nprobe=1
    candidate set a strict subset), then the next nearest centroids by
    squared L2 distance ROUNDED to 6 dp with cid tie-break. The
    rounding makes the ranking reproducible in the DuckDB oracle
    (cross-engine float sums can differ in the last bits); the first
    probe never depends on it."""
    ordered = sorted(centroids)
    c_sql, cid_sql = _centroid_lit_sql(ordered)
    pairs = F.zip_with(
        F.expr(c_sql),
        F.expr(cid_sql),
        lambda cv, cid: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(vec, cv, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, val: acc + val,
                ),
                6,
            ).alias("d"),
            cid.alias("cid"),
        ),
    )
    by_dist = F.transform(F.array_sort(pairs), lambda s: s["cid"])
    own = _kmeans_assign(centroids, vec)
    rest = F.filter(by_dist, lambda c: c != own)
    return F.concat(F.array(own), F.slice(rest, 1, nprobe - 1))


def _kmeans_fit(e: DataFrame, k: int, iters: int = IVF_ITERS):
    """Lloyd's k-means (deterministic first-k init, decimal partial
    sums → bit-deterministic across partition layouts). Returns
    ``[(cid, centroid), ...]``. See q_ivf_kmeans_build for the 100 TB
    design notes."""
    centroids = [
        (i, [float(x) for x in r["v"]])
        for i, r in enumerate(e.orderBy("vec_id").limit(k).collect())
    ]
    for _ in range(iters):
        if k <= IVF_LITERAL_K_MAX:
            assigned = e.withColumn("cid", _kmeans_assign(centroids))
        else:
            assigned = e.join(_assign_via_join(e, centroids), "vec_id")
        sums = (
            assigned
            .select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,15)")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, list] = {}
        for r in sums:
            by_cid.setdefault(r["cid"], []).append((r["pos"], float(r["sx"]) / r["n"]))
        centroids = [
            (cid, [x for _, x in sorted(dims)]) for cid, dims in sorted(by_cid.items())
        ]
    return centroids


def _write_ivf_artifacts(
    spark, adir: str, centroids, assign: DataFrame,
    content_checksum: int | None = None,
) -> None:
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid int, centroid array<double>",
    )
    # a REBUILT index invalidates the DERIVED artifacts — the per-list
    # build stats (ivf_assign_increment's drift baseline) and the soft
    # 2-way assignment replica. Delete BEFORE the centroid swap: a
    # crash between the two then leaves the OLD index with missing
    # derived tables (a correct backfill on next use), never a NEW
    # index paired with stale derivations (silent mis-measure).
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for derived in ("list_stats", "assignments_soft"):
        p = os.path.join(adir, derived)
        fs = jvm_path(p).getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jvm_path(p), True)
    writes = [("centroids", cdf), ("assignments", assign)]
    if content_checksum is not None:
        # one-row corpus CONTENT fingerprint (see _vector_content_checksum),
        # written last like every meta (see _fingerprinted_artifact)
        writes.append(
            ("meta_fp", spark.createDataFrame(
                [(int(content_checksum),)], "c bigint"
            ))
        )
    for sub, df in writes:
        _commit_artifact(spark, os.path.join(adir, sub), df)


def _corpus_fingerprint(corpus_or_assign: DataFrame):
    """(row count, sum(vec_id)) — a cheap column-pruned identity for
    the embedding corpus, used to decide index freshness without
    touching the vectors themselves. The CONTENT term lives in a
    separate stored fingerprint (`_vector_content_checksum` + the
    index's ``meta_fp`` table) because this function also runs over
    the vector-less assignments table."""
    r = corpus_or_assign.agg(
        F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("s")
    ).first()
    return int(r["n"] or 0), int(r["s"] or 0)


def _vector_content_checksum(corpus: DataFrame, vec_col: str = "v") -> int:
    """Order-independent content checksum over (vec_id, vector) — the
    _emb_fingerprint lesson applied to the index artifacts: an index
    fitted on one corpus must never serve a regenerated corpus that
    reuses the same vec_ids with different vector VALUES, and the
    assignments table alone cannot see that (it stores no vectors).
    Stored at build time as a one-row ``meta_fp`` table; compared at
    load time against the live corpus (one extra column scan of the
    small embeddings table)."""
    r = corpus.agg(
        F.sum(
            _h(F.to_json(F.struct(F.col("vec_id"), F.col(vec_col))))
        ).alias("c")
    ).first()
    return int(r["c"] or 0)


def _ivf_load_if_current(spark, adir: str, corpus: DataFrame):
    """LOAD path of the index: return the centroid list from
    ``adir/centroids`` iff the on-disk assignment table covers exactly
    the current corpus (same row count AND same vec_id checksum) and
    the list count matches the size policy (``_ivf_k``). Cost: one
    k-row collect + two column-pruned aggregates — ZERO k-means
    passes. Returns None when absent/stale/corrupt."""
    from ..sources.fsutil import has_committed_data

    cpath = os.path.join(adir, "centroids")
    apath = os.path.join(adir, "assignments")
    if not (
        has_committed_data(spark, cpath) and has_committed_data(spark, apath)
    ):
        return None
    try:
        cent = sorted(
            (int(r["cid"]), [float(x) for x in r["centroid"]])
            for r in spark.read.parquet(cpath).collect()
        )
        disk_fp = _corpus_fingerprint(spark.read.parquet(apath))
        meta = spark.read.parquet(os.path.join(adir, "meta_fp")).first()
        disk_c = None if meta is None else meta["c"]
    except _STALE_READ:
        return None
    if disk_c is None:  # zero-row meta
        return None
    cur_fp = _corpus_fingerprint(corpus)
    if disk_fp != cur_fp or len(cent) != _ivf_k(cur_fp[0]):
        return None
    if disk_c != _vector_content_checksum(corpus):
        return None  # same ids, regenerated vectors — the index is stale
    return cent


def _ivf_index(spark, sf_dir: str):
    """LOAD-first build-or-load of the IVF coarse index for ``sf_dir``;
    returns the centroid list. Guarantees the materialized index under
    ``artifacts/ivf/<sf>/`` (``assignments/`` vec_id→cid,
    ``centroids/`` cid→vector) matches the current embeddings — the
    ANN / blocked-dedup DuckDB oracles read those tables.

    Steady state is READ-ONLY AND FIT-FREE: when the on-disk artifacts
    pass the freshness check (corpus row count + vec_id checksum, and
    list count per the ``_ivf_k`` policy) the centroids are read back
    from parquet and no k-means pass runs — at 100 TB a consumer job
    must never re-fit the index it is querying (round 5 measured ~14 s
    of redundant fit per cold process at sf0.1). Fit happens only when
    the artifacts are absent or stale; results are memoized per
    process. Enforced by
    tests/test_operators.py::test_ivf_warm_index_runs_no_fit."""
    key = os.path.normpath(sf_dir)
    if key in _IVF_CACHE:
        return _IVF_CACHE[key]
    adir = ivf_artifact_dir(sf_dir)
    corpus = _vectors(spark, sf_dir, "vec_id", "v", "vn").drop("label")
    centroids = _ivf_load_if_current(spark, adir, corpus)
    if centroids is None:
        e = corpus.cache()
        try:
            n = e.count()
            centroids = _kmeans_fit(e, _ivf_k(n))
            assign = _assign_frame(e, centroids)
            _write_ivf_artifacts(
                spark, adir, centroids, assign,
                content_checksum=_vector_content_checksum(e),
            )
        finally:
            e.unpersist()
    _IVF_CACHE[key] = centroids
    return centroids


def _ivf_assignments(spark, sf_dir: str) -> DataFrame:
    """The MATERIALIZED vec_id→cid coarse-list assignment built by
    ``ivf_kmeans_build`` (ensured current here). Search/dedup consumers
    join this table instead of re-evaluating the k×d nearest-centroid
    expression over every corpus row on every query — at 100 TB the
    assignment is computed once at index-build time and read back as a
    (co-partitionable) column, never recomputed per search."""
    _ivf_index(spark, sf_dir)  # ensure built + current
    return spark.read.parquet(os.path.join(ivf_artifact_dir(sf_dir), "assignments"))


def _ivf_assignments_soft(spark, sf_dir: str) -> DataFrame:
    """SOFT (2-way) assignment artifact: each corpus vector indexed
    under its TWO nearest lists — the standard IVF replication trick
    for corpora with weak cluster structure. On this corpus the
    vectors are near-uniform on the unit sphere (PLANS.md r8 recall
    analysis): true cosine neighbors scatter across list boundaries,
    so single-assignment recall@10 saturates at ~0.86 even probing
    8/32 lists, while 2-way replication reaches ≥0.95 at the same
    nprobe — better init cannot close this (farthest-point init
    measured WORSE; there are no better centroids to find on a
    uniform sphere), only replication can.

    Load-first under ``artifacts/ivf/<sf>/assignments_soft`` (freshness:
    2 rows per current-corpus vector, fingerprint-checked); built from
    the FROZEN centroids with the exact probe arithmetic
    (``_ivf_probes`` at nprobe=2 — same rounding and ties-to-lowest-cid
    rule the search side uses), zero k-means passes. Invalidated by
    ``_write_ivf_artifacts`` on every refit. Storage/scan cost is 2×
    the hard assignment — the documented price of the recall."""
    from ..sources.fsutil import has_committed_data

    centroids = _ivf_index(spark, sf_dir)  # ensure built + current
    path = os.path.join(ivf_artifact_dir(sf_dir), "assignments_soft")
    corpus = _vectors(spark, sf_dir, "vec_id", "v", "vn").drop("label")
    want_n, want_s = _corpus_fingerprint(corpus)
    if has_committed_data(spark, path):
        try:
            soft = spark.read.parquet(path)
            if _corpus_fingerprint(soft) == (2 * want_n, 2 * want_s):
                return soft
        except _STALE_READ:
            pass
    _commit_artifact(spark, path, corpus.select(
        "vec_id",
        F.explode(_ivf_probes(centroids, F.col("v"), 2)).alias("cid"),
    ))
    return spark.read.parquet(path)


def _assign_with_dist(e: DataFrame, centroids) -> DataFrame:
    """(vec_id, cid, sqdist): nearest-centroid assignment PLUS the
    squared L2 to the assigned centroid (6 dp), by the k-appropriate
    path (literal expression up to IVF_LITERAL_K_MAX, else the shared
    broadcast-join body ``_join_assign_with_dist`` — same arithmetic as
    ``_assign_frame``, extended to carry the distance)."""
    ordered = sorted(centroids)
    if len(ordered) <= IVF_LITERAL_K_MAX:
        c_sql, cid_sql = _centroid_lit_sql(ordered)
        dists = F.transform(
            F.expr(c_sql),
            lambda cv: F.aggregate(
                F.zip_with(F.col("v"), cv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, val: acc + val,
            ),
        )
        return e.select(
            "vec_id",
            F.element_at(
                F.expr(cid_sql),
                F.array_position(dists, F.array_min(dists)).cast("int"),
            ).alias("cid"),
            F.round(F.array_min(dists), 6).alias("sqdist"),
        )
    return _join_assign_with_dist(e, centroids)


def _ivf_list_stats(spark, sf_dir: str) -> DataFrame:
    """Per-list BUILD statistics (cid, n_build, mean_sqdist_build) —
    the drift baseline for incremental index maintenance. Load-first
    under ``artifacts/ivf/<sf>/list_stats``; backfilled with ONE corpus
    pass when absent (older artifacts predate the stats table), and
    invalidated by ``_write_ivf_artifacts`` on every refit so the
    baseline always describes the centroids actually on disk."""
    from ..sources.fsutil import has_committed_data

    centroids = _ivf_index(spark, sf_dir)  # ensure index current first
    path = os.path.join(ivf_artifact_dir(sf_dir), "list_stats")
    if has_committed_data(spark, path):
        try:
            return spark.read.parquet(path)
        except _STALE_READ:
            pass
    corpus = _vectors(spark, sf_dir, "vec_id", "v", "vn").drop("label")
    _commit_artifact(spark, path, (
        _assign_with_dist(corpus, centroids)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_build"),
            F.round(F.avg("sqdist"), 6).alias("mean_sqdist_build"),
        )
    ))
    return spark.read.parquet(path)


def ivf_assign_increment(
    spark, sf_dir: str, new_vecs: DataFrame, drift_threshold: float = 2.0
):
    """INCREMENTAL INDEX MAINTENANCE: assign an APPEND batch of vectors
    (vec_id, embedding) against the FROZEN index — zero k-means passes
    — and report per-list drift so the operator, not a human, decides
    when a refit is due. Returns ``(assignments, drift)``:

    - ``assignments`` (vec_id, cid): computed with the exact build
      arithmetic (``_assign_with_dist``), so appended vectors join the
      same coarse lists searches probe; at 100 TB this is the ONLY
      per-append cost — a narrow expression over the batch, no corpus
      scan, no shuffle beyond the batch's own.
    - ``drift`` (cid, n_new, mean_sqdist_new, n_build,
      mean_sqdist_build, drift_ratio, refit): ratio of the batch's
      mean assigned-distance to the build-time baseline per list
      (baseline backfilled once per index — ``_ivf_list_stats``). A
      ratio ≫ 1 means new data lands far from the centroids it is
      forced into (distribution shift) — quantization quality decays
      and recall follows, so ``refit`` flags the lists whose ratio
      exceeds ``drift_threshold``; lists unseen at build time
      (n_build null) always flag. The refit itself is the existing
      build path, triggered by the caller on flagged evidence instead
      of on a timer.

    Degenerate baselines: a list whose build vectors sit exactly on
    their centroid (singleton or duplicate-vector list) has
    ``mean_sqdist_build == 0`` — an absolute 1e-12 floor there makes
    any nonzero in-distribution append explode the ratio (~1e12) and
    spuriously flag. The floor is therefore DATA-RELATIVE: 1e-3 of
    the corpus-wide weighted mean build distance (itself 6-dp rounded,
    exact-decimal accumulated, so both engines derive the identical
    epsilon), with 1e-12 as the last-resort bound when the whole
    build is degenerate."""
    centroids = _ivf_index(spark, sf_dir)
    e = new_vecs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _assign_with_dist(e, centroids)
    build = _ivf_list_stats(spark, sf_dir)
    # corpus-wide weighted mean of the (already 6-dp) per-list build
    # means: decimal numerator (exact, order-independent), pure double
    # division, 6-dp round — bit-identical in Spark and DuckDB.
    gmean = build.agg(
        F.round(
            F.sum(
                F.col("mean_sqdist_build").cast("decimal(38,10)")
                * F.col("n_build")
            ).cast("double")
            / F.sum("n_build").cast("double"),
            6,
        ).alias("g")
    )
    eps = F.greatest(gmean.scalar() * F.lit(1e-3), F.lit(1e-12))
    floor = F.greatest(F.col("mean_sqdist_build"), eps)
    drift = (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.round(F.avg("sqdist"), 6).alias("mean_sqdist_new"),
        )
        .join(build, "cid", "left")
        .select(
            "cid",
            "n_new",
            "mean_sqdist_new",
            "n_build",
            "mean_sqdist_build",
            F.round(F.col("mean_sqdist_new") / floor, 4).alias("drift_ratio"),
            (
                F.col("mean_sqdist_build").isNull()
                | (F.col("mean_sqdist_new") > floor * drift_threshold)
            ).alias("refit"),
        )
    )
    return assigned.select("vec_id", "cid"), drift


def q_knn_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: first 10 vectors as queries, scored
    against the full corpus, window top-5 per query. The exact
    baseline; values rounded to 6 dp so Spark's ordered fold and
    DuckDB's list_cosine_similarity agree bit-wise after rounding.
    At 100 TB the corpus side stays partitioned; queries broadcast."""
    q = _vectors(spark, sf_dir, "query_id", "qv", "qn").filter(F.col("query_id") < 10)
    cand = _vectors(spark, sf_dir, "cand_id", "cv", "cn")
    scored = (
        F.broadcast(q.drop("label"))
        .crossJoin(cand.drop("label"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
        )
    )
    return _cos_topk(scored, 5)


ORACLE_KNN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (nprobe=1) searching the BUILT index: the coarse
    inverted list is the k-means assignment from ``ivf_kmeans_build``
    (materialized under artifacts/ivf/<sf>; the DuckDB oracle reads
    that same assignment table). Assignment is a narrow literal-array
    expression (centroids are driver state — k×d floats), so the
    search plan is: equi-join on list id + per-query top-k window —
    no cross join, no extra shuffle. The corpus side reads its
    PRE-computed assignment from the materialized index (a join
    against ``artifacts/ivf/<sf>/assignments``) — recomputing the k×d
    distance expression per corpus row per search would redo the
    index build's work on every query."""
    asg = _ivf_assignments(spark, sf_dir)
    q = (
        _vectors(spark, sf_dir, "query_id", "qv", "qn")
        .drop("label")
        .filter(F.col("query_id") < 10)
        .join(asg, F.col("query_id") == asg["vec_id"])
        .select("query_id", "qv", "qn", F.col("cid").alias("qlabel"))
    )
    cand = (
        _vectors(spark, sf_dir, "cand_id", "cv", "cn")
        .drop("label")
        .join(asg, F.col("cand_id") == asg["vec_id"])
        .select("cand_id", "cv", "cn", F.col("cid").alias("clabel"))
    )
    scored = (
        F.broadcast(q)
        .join(cand, F.col("qlabel") == F.col("clabel"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
        )
    )
    return _cos_topk(scored, 3)


ORACLE_ANN_IVF_TOPK = f"""
WITH a AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, qa.cid AS qcid
      FROM embeddings e JOIN a qa ON qa.vec_id = e.vec_id
      WHERE e.vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q JOIN a ca ON ca.cid = q.qcid
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_quality(spark, sf_dir):
    """Quality scoring: token count, avg token length, stopword ratio,
    BPE-ish token estimate (chars/4), short-doc flag. Pure column
    arithmetic — JVM codegen end to end."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    stop = "('the','a','of','and','in','to','is')"
    return (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.size("__toks").alias("n_tokens"),
            (
                F.aggregate(
                    F.transform(F.col("__toks"), lambda t: F.length(t)),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.size("__toks").cast("double")
            ).alias("avg_token_len"),
            (
                F.size(F.expr(f"filter(__toks, t -> t IN {stop})")).cast("double")
                / F.size("__toks").cast("double")
            ).alias("stopword_ratio"),
            F.ceil(F.length("text") / F.lit(4.0)).cast("bigint").alias("bpe_token_est"),
            (F.size("__toks") < 20).alias("is_short"),
        )
    )


ORACLE_TEXT_QUALITY = f"""
WITH toks AS (SELECT doc_id, text, {TOKENS_DUCK} AS __toks FROM documents)
SELECT doc_id,
       CAST(len(__toks) AS INTEGER) AS n_tokens,
       CAST(list_sum(list_transform(__toks, t -> length(t))) AS DOUBLE)
         / CAST(len(__toks) AS DOUBLE) AS avg_token_len,
       CAST(len(list_filter(__toks, t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         / CAST(len(__toks) AS DOUBLE) AS stopword_ratio,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_token_est,
       len(__toks) < 20 AS is_short
FROM toks
"""


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: CJK charset detection + per-language
    marker-word counts with a deterministic argmax ladder."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    markers = {
        "en": "('the','and','of','is','to')",
        "es": "('el','la','de','que','los')",
        "de": "('der','die','und','das','ist')",
        "fr": "('le','la','et','les','des')",
    }
    d = d.withColumn("__toks", F.expr(TOKENS_SPARK))
    for lang, lst in markers.items():
        d = d.withColumn(f"c_{lang}", F.size(F.expr(f"filter(__toks, t -> t IN {lst})")))
    best = F.greatest(*[F.col(f"c_{lang}") for lang in markers])
    pred = (
        F.when(F.col("text").rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(best == 0, F.lit("unknown"))
        .when(F.col("c_en") == best, F.lit("en"))
        .when(F.col("c_es") == best, F.lit("es"))
        .when(F.col("c_de") == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.select(
        "doc_id", "lang", pred.alias("lang_pred"), (pred == F.col("lang")).alias("is_correct")
    )


ORACLE_LANG_ID = rf"""
WITH toks AS (SELECT doc_id, lang, text, {TOKENS_DUCK} AS __toks FROM documents),
counts AS (
  SELECT doc_id, lang, text,
         len(list_filter(__toks, t -> t IN ('the','and','of','is','to'))) AS c_en,
         len(list_filter(__toks, t -> t IN ('el','la','de','que','los'))) AS c_es,
         len(list_filter(__toks, t -> t IN ('der','die','und','das','ist'))) AS c_de,
         len(list_filter(__toks, t -> t IN ('le','la','et','les','des'))) AS c_fr
  FROM toks
),
pred AS (
  SELECT doc_id, lang,
         CASE
           WHEN regexp_matches(text, '[\x{{4e00}}-\x{{9fff}}]') THEN 'zh'
           WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'unknown'
           WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
           WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
           WHEN c_de = greatest(c_en, c_es, c_de, c_fr) THEN 'de'
           ELSE 'fr'
         END AS lang_pred
  FROM counts
)
SELECT doc_id, lang, lang_pred, lang_pred = lang AS is_correct FROM pred
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: content digest over normalized text
    (whitespace-collapsed, lowercased) + a 32-bit rolling-style key —
    the join key for cross-snapshot dedup."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        _h(norm).alias("fingerprint32"),
    )


_NORM_DUCK = r"regexp_replace(lower(text), '\s+', ' ', 'g')"
ORACLE_DOC_FINGERPRINT = """
SELECT doc_id,
       md5({norm}) AS fingerprint,
       {h} AS fingerprint32
FROM documents
""".format(norm=_NORM_DUCK, h=H_SQL.format(x=_NORM_DUCK))


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payloads + Pandas-UDF feature extraction)
# ---------------------------------------------------------------------------


def _payload_rows(payloads: DataFrame, per_row, schema: str) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` stage over ``payloads``:
    ``per_row`` gets each row's columns in order — ``(doc_id,)`` for an
    encode stage, ``(doc_id, payload)`` for a decode stage — and returns
    zero or more output tuples in ``schema`` order. Map-only: the stage
    adds no shuffle, and an empty partition yields an empty typed frame."""
    cols = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf.itertuples(index=False, name=None)
            yield pd.DataFrame([o for r in rows for o in per_row(*r)], columns=cols)

    return payloads.mapInPandas(run, schema=schema)


def _utf8_payloads(spark, sf_dir, *extra: str) -> DataFrame:
    """(doc_id, payload = UTF-8 bytes of the text, *extra) per document."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"), *extra
    )


def _extract_payload(doc_id, payload: bytes, lang):
    return [(doc_id, len(payload), hashlib.md5(payload).hexdigest(), lang)]


def q_multimodal_extract(spark, sf_dir):
    """Multimodal column plumbing: treat content as an opaque binary
    payload + typed metadata, run feature extraction as an
    Arrow-batched mapInPandas (the real decode — image/audio libs —
    is stubbed per environment; the Spark-side schema/batching/
    partitioning is the part under test). Payload here is the UTF-8
    encoding of the text column so the oracle can validate byte
    lengths and digests."""
    return _payload_rows(
        _utf8_payloads(spark, sf_dir, "lang"),
        _extract_payload,
        "doc_id long, byte_len long, content_md5 string, lang string",
    )


ORACLE_MULTIMODAL_EXTRACT = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       lang
FROM documents
"""


# ---------------------------------------------------------------------------
# REAL multimodal decode — codec-free fixed-layout formats (BMP, WAV)
# ---------------------------------------------------------------------------
#
# The container has no image/audio codec libraries, but BMP (BI_RGB
# 24-bit) and WAV (PCM 16-bit) are FIXED-LAYOUT formats decodable with
# pure struct/numpy — so the decode step is real byte-level parsing,
# not a stub: magic validation, header field reads, row padding,
# bottom-up row order, BGR channel order (BMP); RIFF chunk walking and
# little-endian int16 samples (WAV). Payload bytes are generated
# DETERMINISTICALLY from doc_id (pixel/sample values are a pure integer
# function of (doc_id, position)), which gives the DuckDB oracle an
# ANALYTIC twin: it computes the same integer statistics from the
# formula without touching bytes — any decoder layout error (padding,
# channel order, row direction, chunk offset) breaks the hash match.


def _bmp_width_height(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 9, 5 + doc_id % 7


def _bmp_bytes(doc_id: int) -> bytes:
    """BI_RGB 24-bit BMP: 14-byte file header + 40-byte info header +
    bottom-up rows padded to 4 bytes, BGR byte order."""
    w, h = _bmp_width_height(doc_id)
    stride = (w * 3 + 3) // 4 * 4
    pixel_bytes = stride * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + pixel_bytes, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up on disk
        row = bytearray()
        for x in range(w):
            r = (doc_id * 7 + x * 13 + y * 31) % 256
            g = (doc_id * 11 + x * 3 + y * 5) % 256
            b = (doc_id * 17 + x * 29 + y * 23) % 256
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - w * 3)
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def _wav_params(doc_id: int) -> tuple[int, int]:
    return 8000 + (doc_id % 5) * 1000, 50 + doc_id % 50


def _wav_bytes(doc_id: int) -> bytes:
    """RIFF/WAVE, PCM 16-bit mono little-endian."""
    sr, n = _wav_params(doc_id)
    samples = [((doc_id * 31 + i * 17) % 65536) - 32768 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _codec_roundtrip(spark, sf_dir, to_bytes, decode, schema: str) -> DataFrame:
    """Encode one deterministic ``to_bytes(doc_id)`` payload per document
    in one mapInPandas stage, then ``decode`` the ACTUAL bytes in a
    second, independent one (``_payload_rows`` both times)."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id")
    payloads = _payload_rows(
        d, lambda doc_id: [(doc_id, to_bytes(doc_id))], "doc_id long, payload binary"
    )
    return _payload_rows(payloads, decode, schema)


def _luma(rgb: np.ndarray) -> int:
    """Exact integer luma sum Σ(299·R + 587·G + 114·B) (milli-scaled
    BT.601) over int64 pixels whose last axis is R, G, B."""
    return int((299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]).sum())


def _dib_rgb(buf: bytes, offset: int, w: int, h: int) -> np.ndarray:
    """Uncompressed 24-bit DIB pixels at ``offset`` — BGR byte order,
    rows padded to 4 bytes, bottom-up unless ``h`` is negative — as
    top-down int64 RGB of shape (|h|, w, 3)."""
    stride = (w * 3 + 3) // 4 * 4
    ah = abs(h)
    arr = np.frombuffer(buf, dtype=np.uint8, count=stride * ah, offset=offset)
    pix = arr.reshape(ah, stride)[:, : w * 3].reshape(ah, w, 3)
    if h > 0:
        pix = pix[::-1]  # bottom-up → top-down
    return pix[..., ::-1].astype(np.int64)  # BGR → RGB


def _decode_bmp(doc_id, buf: bytes):
    if buf[:2] != b"BM":
        raise ValueError(f"doc {doc_id}: not a BMP payload")
    offset = struct.unpack_from("<I", buf, 10)[0]
    hdr_sz, w, h, planes, bpp = struct.unpack_from("<IiiHH", buf, 14)
    if hdr_sz != 40 or planes != 1 or bpp != 24:
        raise ValueError(f"doc {doc_id}: unsupported BMP variant")
    return [(doc_id, w, abs(h), w * abs(h), _luma(_dib_rgb(buf, offset, w, h)))]


def q_multimodal_decode_bmp(spark, sf_dir):
    """IMAGE DECODE over a binary column: one mapInPandas stage encodes
    a deterministic BMP per document, a SECOND independent mapInPandas
    stage decodes it back by parsing the ACTUAL bytes (magic check,
    pixel-array offset from the file header, width/height/bpp from the
    info header, 4-byte row padding, bottom-up row order, BGR→RGB) and
    emits integer image statistics: dimensions, pixel count, and the
    exact luma sum Σ(299·R + 587·G + 114·B) (milli-scaled BT.601,
    integer-exact). The oracle recomputes the statistics ANALYTICALLY
    from the generator formula — the gate fails on any byte-layout
    mistake in the decoder.

    100 TB notes: both stages are map-only Arrow-batched passes over
    the binary column — no shuffle at all (the final sort is the
    driver compare's, not the plan's); a real corpus swaps the encode
    stage for a parquet binary column read, decode unchanged."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _bmp_bytes,
        _decode_bmp,
        "doc_id long, width long, height long, n_pixels long, luma_milli long",
    )


ORACLE_MULTIMODAL_DECODE_BMP = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d
)
SELECT doc_id, w AS width, h AS height, COUNT(*) AS n_pixels,
       CAST(SUM(
         299 * ((doc_id * 7 + (i % w) * 13 + (i // w) * 31) % 256)
       + 587 * ((doc_id * 11 + (i % w) * 3 + (i // w) * 5) % 256)
       + 114 * ((doc_id * 17 + (i % w) * 29 + (i // w) * 23) % 256)
       ) AS BIGINT) AS luma_milli
FROM px
GROUP BY doc_id, w, h
"""


def _riff_chunks(buf: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """(chunk id, payload offset, payload size) for each word-aligned
    RIFF chunk in ``buf[pos:end]``."""
    while pos + 8 <= end:
        sz = struct.unpack_from("<I", buf, pos + 4)[0]
        yield buf[pos : pos + 4], pos + 8, sz
        pos += 8 + sz + (sz & 1)


def _wav_samples(doc_id, buf: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE magic, chunk walk to the ``fmt `` and ``data`` chunks,
    PCM-16 mono check → (sample_rate, int64 samples)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a WAV payload")
    sr = bits = channels = data = None
    for cid, off, sz in _riff_chunks(buf, 12, len(buf)):
        if cid == b"fmt ":
            fmt_code, channels, sr, _, _, bits = struct.unpack_from("<HHIIHH", buf, off)
            if fmt_code != 1:
                raise ValueError(f"doc {doc_id}: not PCM")
        elif cid == b"data":
            data = buf[off : off + sz]
    if data is None or bits != 16 or channels != 1:
        raise ValueError(f"doc {doc_id}: unsupported WAV layout")
    return sr, np.frombuffer(data, dtype="<i2").astype(np.int64)


def _decode_wav(doc_id, buf: bytes):
    sr, s = _wav_samples(doc_id, buf)
    return [(doc_id, sr, len(s), int(np.abs(s).sum()), int((s * s).sum()))]


def q_multimodal_decode_wav(spark, sf_dir):
    """AUDIO DECODE over a binary column — the WAV sibling of
    ``multimodal_decode_bmp``: encode a deterministic PCM-16 mono WAV
    per document, then parse the ACTUAL bytes back (RIFF/WAVE magic,
    fmt chunk fields, chunk walk to the data chunk, little-endian
    int16 samples) and emit integer audio statistics: sample rate and
    count from the headers, Σ|s| and the energy Σs² from the samples
    (both integer-exact). Oracle is the analytic twin of the
    generator formula. Map-only Arrow-batched, no shuffle."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _wav_bytes,
        _decode_wav,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, energy long",
    )


ORACLE_MULTIMODAL_DECODE_WAV = """
WITH d AS (
  SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS sr, 50 + doc_id % 50 AS n
  FROM documents
),
s AS (
  SELECT doc_id, sr, n,
         ((doc_id * 31 + unnest(range(0, n)) * 17) % 65536) - 32768 AS v
  FROM d
)
SELECT doc_id, sr AS sample_rate, n AS n_samples,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM s
GROUP BY doc_id, sr, n
"""


EXT_QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "knn_cosine_topk": q_knn_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "multimodal_extract": q_multimodal_extract,
    "multimodal_decode_bmp": q_multimodal_decode_bmp,
    "multimodal_decode_wav": q_multimodal_decode_wav,
}

EXT_ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "knn_cosine_topk": ORACLE_KNN_COSINE_TOPK,
    "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "text_quality": ORACLE_TEXT_QUALITY,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "multimodal_extract": ORACLE_MULTIMODAL_EXTRACT,
    "multimodal_decode_bmp": ORACLE_MULTIMODAL_DECODE_BMP,
    "multimodal_decode_wav": ORACLE_MULTIMODAL_DECODE_WAV,
}


COSINE_DUP_THRESHOLD = 0.35  # top ~0.1% of random-pair similarity in testdata


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup — EXACT BASELINE ONLY (recall
    measurement at small SF): all pairs above the similarity
    threshold, quadratic; guarded by a row-count circuit breaker — the
    production plan is ``dedup_embedding_blocked`` (exact cosine within
    IVF blocks only; equi-join on the block key)."""
    _guard_exact_baseline(
        _t(spark, sf_dir, "embeddings"),
        "dedup_embedding_cosine",
        "dedup_embedding_blocked",
    )
    a = _vectors(spark, sf_dir, "id_a", "va", "na_").drop("label")
    b = _vectors(spark, sf_dir, "id_b", "vb", "nb_").drop("label")
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _cos(F.col("va"), F.col("vb"), F.col("na_"), F.col("nb_"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {COSINE_DUP_THRESHOLD}
"""

EXT_QUERIES["dedup_embedding_cosine"] = q_dedup_embedding_cosine
EXT_ORACLES["dedup_embedding_cosine"] = ORACLE_DEDUP_EMBEDDING_COSINE


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the cosine pair
    graph — the step that turns pairwise matches into dedup groups
    (keep min id per component). The iteration lives in
    ``operators.graph.connected_components``: min-label propagation
    with pointer jumping (O(log diameter) rounds), loud RuntimeError
    if the round budget is exhausted instead of a silently
    under-merged result."""
    from ..operators.graph import connected_components

    pairs = q_dedup_embedding_cosine(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs, "id_a", "id_b", symmetrize=True)
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keeper_doc_id"),
    )
    return out.select(
        F.col("label").alias("cluster_id"), "cluster_size", "keeper_doc_id"
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {COSINE_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT walk.src, e.b FROM walk JOIN edges e ON walk.dst = e.a
  )
  SELECT src, dst FROM walk
),
labels AS (
  SELECT n.node, least(n.node, min(tc.dst)) AS label
  FROM nodes n LEFT JOIN tc ON tc.src = n.node
  GROUP BY n.node
)
SELECT label AS cluster_id,
       COUNT(*) AS cluster_size,
       min(node) AS keeper_doc_id
FROM labels GROUP BY label
"""


def q_ivf_kmeans_build(spark, sf_dir):
    """IVF index BUILD: Lloyd's k-means (k = ceil(n/IVF_TARGET_BLOCK)
    lists — scaled so expected list width stays constant at any corpus
    size — 5 iterations, deterministic first-k init) over the
    embedding corpus, then MATERIALIZE the index (vec_id→cid
    assignments + centroids) under ``artifacts/ivf/<sf>/`` — the
    tables ``ann_ivf_topk``, ``ann_ivf_multiprobe`` and
    ``dedup_embedding_blocked`` (and their DuckDB oracles) consume.

    100 TB design: assignment embeds the k x d centroids as literal
    arrays (they ARE driver state — k*d floats, not data) so it is a
    narrow map with no join; the centroid update is a per-(cid, dim)
    ``posexplode`` + sum/count groupBy — map-side combinable, k*d
    output rows — and only those k*d partial sums ever reach the
    driver. Sums run in decimal so the result is independent of
    partition/merge order (floating-point addition is not
    associative; decimal is), keeping the build bit-deterministic
    across runs and cluster layouts. Iterative + data-dependent →
    no SQL oracle (rows-only check); structural invariants and
    recall-vs-exact-kNN are asserted in tests/test_operators.py."""
    asg = _ivf_assignments(spark, sf_dir)  # ensures built + current
    return (
        asg.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("list_size"))
        .orderBy("cid")
    )


EXT_QUERIES["dedup_clusters"] = q_dedup_clusters
EXT_ORACLES["dedup_clusters"] = ORACLE_DEDUP_CLUSTERS
EXT_QUERIES["ivf_kmeans_build"] = q_ivf_kmeans_build
# ivf_kmeans_build: intentionally NO oracle (iterative, float-order
# dependent) -> driver records the weaker rows-only check.


def q_udtf_ngram_explode(spark, sf_dir):
    """Python UDTF (Spark 4 table function): explode char-4-grams of
    each document title prefix — the UDTF surface of §2.10. The UDTF
    yields multiple rows per input row; downstream is a plain
    aggregate. Oracle reproduces the same 4-grams with list ops."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, gram: string")
    class CharNgrams:
        def eval(self, doc_id: int, text: str):
            prefix = (text or "")[:40].lower()
            for i in range(max(0, len(prefix) - 3)):
                yield doc_id, prefix[i : i + 4]

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    d.createOrReplaceTempView("udtf_docs_src")
    spark.udtf.register("char_ngrams", CharNgrams)
    grams = spark.sql(
        "SELECT g.doc_id, g.gram FROM udtf_docs_src, "
        "LATERAL char_ngrams(doc_id, text) AS g"
    )
    return grams.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("distinct_grams"),
        F.count(F.lit(1)).alias("total_grams"),
    )


ORACLE_UDTF_NGRAM_EXPLODE = """
WITH grams AS (
  SELECT doc_id,
         unnest([substr(lower(substr(text, 1, 40)), i, 4)
                 FOR i IN range(1, greatest(length(substr(text, 1, 40)) - 2, 1))]) AS gram
  FROM documents
  WHERE length(substr(text, 1, 40)) >= 4
)
SELECT doc_id,
       COUNT(DISTINCT gram) AS distinct_grams,
       COUNT(*) AS total_grams
FROM grams GROUP BY doc_id
"""


def q_token_rarity_score(spark, sf_dir):
    """Corpus-level quality scoring v2: per-document mean token rarity
    (-log2 of corpus frequency) — a two-pass plan: token frequency
    aggregate (broadcastable dim) joined back to the exploded corpus.
    The canonical 'compute a statistic over the corpus, score each
    document with it' shape of training-data pipelines.

    100 TB notes: no broadcast hint on ``freq`` — the vocabulary is
    unbounded (billions of rows at corpus scale), so the join strategy
    is left to AQE, which broadcasts only if the built stats say it
    fits. The corpus total comes from aggregating ``freq`` itself
    (vocab-sized input), not a second ``count()`` pass over the
    exploded tokens."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = d.withColumn("__toks", F.expr(TOKENS_SPARK)).select(
        "doc_id", F.explode_outer("__toks").alias("t")
    ).filter(F.col("t").isNotNull())
    # shuffle_hash hint: the vocabulary is CORPUS-SCALED (unbounded at
    # real scale; Heaps' law) — the planner's post-aggregate size
    # estimate auto-broadcast it, which failed outright at the sf10
    # probe. A per-partition hash build scales; a broadcast must fit
    # one node.
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf")).hint(
        "shuffle_hash"
    )
    total = freq.agg(F.sum("tf").cast("double").alias("__total"))
    # corpus total as a scalar subquery (runs once, embeds as literal)
    # instead of a 1-row crossJoin — drops the BNLJ node entirely
    scored = toks.join(freq, "t").withColumn(
        "rarity", -F.log2(F.col("tf").cast("double") / total.scalar())
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("rarity").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_rarity"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


ORACLE_TOKEN_RARITY_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS t FROM documents
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
freq AS (SELECT t, COUNT(*) AS tf FROM toks GROUP BY t)
SELECT doc_id,
       round(CAST(CAST(SUM(CAST(-log2(CAST(tf AS DOUBLE) / total.n) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*), 6) AS mean_rarity,
       COUNT(*) AS n_tokens
FROM toks JOIN freq USING (t) CROSS JOIN total
GROUP BY doc_id
"""

EXT_QUERIES["udtf_ngram_explode"] = q_udtf_ngram_explode
EXT_ORACLES["udtf_ngram_explode"] = ORACLE_UDTF_NGRAM_EXPLODE
EXT_QUERIES["token_rarity_score"] = q_token_rarity_score
EXT_ORACLES["token_rarity_score"] = ORACLE_TOKEN_RARITY_SCORE


def q_knn_cosine_topk_vectorized(spark, sf_dir):
    """kNN via the vectorized fast path: queries collected (tiny) and
    closed over, corpus scored per Arrow batch with one numpy matmul
    (mapInPandas) — the 10-100x-over-row-at-a-time pattern for the
    numeric hot path. Same output contract as knn_cosine_topk (round-6
    + id tiebreak), verified against the same oracle."""
    import numpy as np
    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    qrows = e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qids = [int(r["vec_id"]) for r in qrows]
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = np.round(Qn @ Cn.T, 6)
            for qi, qid in enumerate(qids):
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "cand_id": pdf["vec_id"].values,
                        "cos_sim": sims[qi],
                    }
                )

    out = e.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, cand_id long, cos_sim double"
    )
    return _cos_topk(out.filter(F.col("query_id") != F.col("cand_id")), 5)


EXT_QUERIES["knn_cosine_topk_vectorized"] = q_knn_cosine_topk_vectorized
# same contract as the fold-based variant -> same oracle
EXT_ORACLES["knn_cosine_topk_vectorized"] = ORACLE_KNN_COSINE_TOPK


def q_dedup_simhash_buckets(spark, sf_dir):
    """SimHash bucket dedup: documents sharing an identical 16-bit
    signature are near-dup candidates — the groupBy completion of the
    signature computation (hamming-radius search would OR together
    k bit-flipped probes of the same groupBy)."""
    sig = q_dedup_simhash(spark, sf_dir)
    return (
        sig.groupBy("simhash16")
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("bucket_size") > 1)
    )


ORACLE_DEDUP_SIMHASH_BUCKETS = f"""
WITH sig AS ({ORACLE_DEDUP_SIMHASH})
SELECT simhash16,
       COUNT(*) AS bucket_size,
       min(doc_id) AS keeper_doc_id
FROM sig GROUP BY simhash16 HAVING COUNT(*) > 1
"""

EXT_QUERIES["dedup_simhash_buckets"] = q_dedup_simhash_buckets
EXT_ORACLES["dedup_simhash_buckets"] = ORACLE_DEDUP_SIMHASH_BUCKETS


def q_deterministic_split(spark, sf_dir):
    """Deterministic train/test split: hash-bucket the stable document
    key (portable md5 hash mod 100 < 20 → test) — rerun-safe and
    engine-independent, unlike randomSplit. Output: per-(lang, split)
    counts proving stratification holds under the hash."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(_h(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 20, F.lit("test")).otherwise(F.lit("train"))
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


ORACLE_DETERMINISTIC_SPLIT = """
SELECT lang,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20
            THEN 'test' ELSE 'train' END AS split,
       COUNT(*) AS n_docs,
       min(doc_id) AS min_doc_id
FROM documents
GROUP BY 1, 2
"""

EXT_QUERIES["deterministic_split"] = q_deterministic_split
EXT_ORACLES["deterministic_split"] = ORACLE_DETERMINISTIC_SPLIT


def q_arrow_batch_stats(spark, sf_dir):
    """mapInArrow: the zero-copy Arrow-native batch API (one level
    below mapInPandas — no pandas conversion) computing per-batch
    aggregates that reduce to exact per-source totals."""
    import pyarrow as pa

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("source", "n_chars")

    def batch_stats(batches):
        for batch in batches:
            # arrow-native column selection, no pandas materialization
            yield batch.select(["source", "n_chars"])

    passed = d.mapInArrow(batch_stats, "source string, n_chars long")
    return passed.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_ARROW_BATCH_STATS = """
SELECT source,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""

EXT_QUERIES["arrow_batch_stats"] = q_arrow_batch_stats
EXT_ORACLES["arrow_batch_stats"] = ORACLE_ARROW_BATCH_STATS


# ---------------------------------------------------------------------------
# Blocked dedup compositions — the actual 100 TB plans
# ---------------------------------------------------------------------------


def q_dedup_lsh_verified(spark, sf_dir):
    """LSH → exact-verify: THE 100 TB near-dup plan. MinHash LSH
    proposes candidate pairs (linear — band-bucket equi-join only, no
    all-pairs), then exact Jaccard runs ONLY on those candidates: the
    candidate list joins back to the shingle table on doc id, so the
    verify cost is O(candidates x shingles-per-doc), never O(n^2).
    ``dedup_ngram_jaccard`` is the exact-baseline twin kept for recall
    measurement; this composition is what ships at scale.

    Join-strategy note (sf10 probe finding): the verify joins'
    original shape joined the candidate list against the FULL shingle
    table — whose compressed-bytes estimate sat under the broadcast
    threshold, so the planner built a 25M-row hashed relation and
    failed outright at sf10 ("Not enough memory to build and
    broadcast"). The scalable shape reduces the shingle table FIRST
    with a left-semi join against the candidate-touched doc ids (one
    shuffle; the corpus side streams, never builds), after which every
    verify frame is bounded by |candidates| x shingles-per-doc and any
    join strategy fits."""
    cand = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # 3 consumers; don't re-run banding per branch
    )
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Materialize the candidate-touched shingle frame ONCE: it feeds
    # FOUR subtrees (both verify-join sides + both size lookups), and
    # the executed plan showed four separate tokenize→shingle→explode→
    # semi-join pipelines with zero exchange reuse (plans/r12/
    # dedup_lsh_verified_before.txt). The frame is bounded by
    # |candidate-touched docs| × shingles-per-doc — NOT corpus-scaled —
    # so eager checkpoint is safe at any corpus size (the same
    # discipline as jaccard_join_prefix's token-frame cut).
    sh = (
        _doc_shingles(spark, sf_dir)
        .join(ids, "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


ORACLE_DEDUP_LSH_VERIFIED = f"""
WITH {_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, n_common,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""

EXT_QUERIES["dedup_lsh_verified"] = q_dedup_lsh_verified
EXT_ORACLES["dedup_lsh_verified"] = ORACLE_DEDUP_LSH_VERIFIED


def q_dedup_embedding_blocked(spark, sf_dir):
    """Blocked embedding near-dup: candidates come from the BUILT IVF
    coarse lists (the k-means assignment materialized by
    ``ivf_kmeans_build``); exact cosine runs only WITHIN a block. The
    pair join is an equi-join on the block id — linear per block,
    shuffle on the block key only — vs the quadratic all-pairs of
    ``dedup_embedding_cosine`` (kept as the exact-recall baseline).
    Candidate generation is NARROW: the (id, block) assignment table
    self-joins on the block id to enumerate (id_a, id_b) candidates —
    two bigints per row, no vectors in the shuffle — and only then are
    the embedding arrays joined in (by id, for candidate rows only)
    and scored. At 100 TB the heavy array columns move exactly once
    per surviving candidate instead of once per corpus row per side.
    The k×d nearest-centroid expression runs only at index-build time,
    never here; block width is capped by the ``_ivf_k`` sizing policy
    (k scales with the corpus), so in-block pair counts stay linear in
    the corpus."""
    asg = _ivf_assignments(spark, sf_dir)
    cand = (
        asg.select(F.col("vec_id").alias("id_a"), F.col("cid").alias("block"))
        .join(
            asg.select(F.col("vec_id").alias("id_b"), F.col("cid").alias("bb")),
            (F.col("block") == F.col("bb")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "block")
    )
    va = _vectors(spark, sf_dir, "id_a", "va", "na_").drop("label")
    vb = _vectors(spark, sf_dir, "id_b", "vb", "nb_").drop("label")
    cos = _cos(F.col("va"), F.col("vb"), F.col("na_"), F.col("nb_"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "block", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


ORACLE_DEDUP_EMBEDDING_BLOCKED = f"""
WITH asg AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet'))
SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cid AS block,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a
JOIN asg aa ON aa.vec_id = a.vec_id
JOIN asg ba ON ba.cid = aa.cid
JOIN embeddings b ON b.vec_id = ba.vec_id AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {COSINE_DUP_THRESHOLD}
"""

EXT_QUERIES["dedup_embedding_blocked"] = q_dedup_embedding_blocked
EXT_ORACLES["dedup_embedding_blocked"] = ORACLE_DEDUP_EMBEDDING_BLOCKED


def q_dedup_clusters_blocked(spark, sf_dir):
    """Near-dup clusters AT SCALE: connected components over the edge
    list from ``dedup_embedding_blocked`` (IVF-blocked candidate pairs,
    linear per block) instead of the circuit-breaker-guarded quadratic
    baseline ``dedup_clusters`` composes. This is the 100 TB
    composition: blocked pair generation → O(log diameter) pointer-
    jumping components → keeper election — no stage enumerates all
    pairs, no driver-side data. The exact-edge variant stays as the
    recall baseline at small SF."""
    from ..operators.graph import connected_components

    pairs = q_dedup_embedding_blocked(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs, "id_a", "id_b", symmetrize=True)
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keeper_doc_id"),
    )
    return out.select(
        F.col("label").alias("cluster_id"), "cluster_size", "keeper_doc_id"
    )


ORACLE_DEDUP_CLUSTERS_BLOCKED = f"""
WITH asg AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a
  JOIN asg aa ON aa.vec_id = a.vec_id
  JOIN asg ba ON ba.cid = aa.cid
  JOIN embeddings b ON b.vec_id = ba.vec_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {COSINE_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT walk.src, e.b FROM walk JOIN edges e ON walk.dst = e.a
  )
  SELECT src, dst FROM walk
),
labels AS (
  SELECT n.node, least(n.node, min(tc.dst)) AS label
  FROM nodes n LEFT JOIN tc ON tc.src = n.node
  GROUP BY n.node
)
SELECT label AS cluster_id,
       COUNT(*) AS cluster_size,
       min(node) AS keeper_doc_id
FROM labels GROUP BY label
"""

EXT_QUERIES["dedup_clusters_blocked"] = q_dedup_clusters_blocked
EXT_ORACLES["dedup_clusters_blocked"] = ORACLE_DEDUP_CLUSTERS_BLOCKED


def q_dedup_simhash_hamming(spark, sf_dir):
    """SimHash Hamming-radius-1 probe search: each signature emits 17
    probes (itself + its 16 one-bit flips); a probe→signature equi-join
    finds every pair within Hamming distance <= 1 without comparing all
    pairs — the multi-probe completion of ``dedup_simhash_buckets``
    (which only catches distance 0). Each qualifying pair matches
    exactly one probe (the identity probe for distance 0, the smaller
    doc's flipped bit for distance 1), so no dedup pass is needed.
    At scale: probes multiply rows by 17 but the join stays an
    equi-shuffle on the 16-bit key."""
    sig = q_dedup_simhash(spark, sf_dir)
    probes = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash16").alias("sig_a"),
        F.explode(
            F.array(
                F.col("simhash16"),
                *[
                    F.col("simhash16").bitwiseXOR(F.lit(1 << j))
                    for j in range(SIMHASH_BITS)
                ],
            )
        ).alias("probe"),
    )
    right = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash16").alias("sig_b")
    )
    return (
        probes.join(
            right,
            (F.col("probe") == F.col("sig_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
    )


def _simhash_hamming_oracle() -> str:
    return f"""
WITH sig AS ({ORACLE_DEDUP_SIMHASH}),
probes AS (
  SELECT doc_id AS doc_a, simhash16 AS sig_a,
         unnest([simhash16] +
                [xor(simhash16, CAST(1 << j AS BIGINT)) FOR j IN range(0, {SIMHASH_BITS})]) AS probe
  FROM sig
)
SELECT p.doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(p.sig_a, b.simhash16)) AS INTEGER) AS hamming
FROM probes p JOIN sig b ON p.probe = b.simhash16 AND p.doc_a < b.doc_id
"""


ORACLE_DEDUP_SIMHASH_HAMMING = _simhash_hamming_oracle()

EXT_QUERIES["dedup_simhash_hamming"] = q_dedup_simhash_hamming
EXT_ORACLES["dedup_simhash_hamming"] = ORACLE_DEDUP_SIMHASH_HAMMING


# ---------------------------------------------------------------------------
# Round 2: repetition filter, decontamination, sketch aggregates
# ---------------------------------------------------------------------------


def q_repetition_ngram_ratio(spark, sf_dir):
    """Gopher-style repetition filter: fraction of DUPLICATE word
    3-grams per document (1 - distinct/total), the standard
    within-document repetition signal for LLM training-data curation.

    Scale: pure array expressions per row — tokenize, count, distinct —
    all inside whole-stage codegen. ZERO shuffles, no explode, no join;
    at 100 TB this is a single map-only pass over the corpus."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    d = d.withColumn("__toks", F.expr(TOKENS_SPARK)).withColumn(
        "__sh", F.expr(SHINGLES_SPARK)
    )
    total = F.greatest(F.size("__toks") - F.lit(2), F.lit(0)).cast("bigint")
    dup = F.when(
        total > 0,
        F.round(
            F.lit(1.0) - F.size("__sh").cast("double") / total.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        total.alias("n_3grams"),
        dup.alias("dup_3gram_ratio"),
        (dup > 0.1).alias("is_repetitive"),
    )


ORACLE_REPETITION_NGRAM_RATIO = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
stats AS (
  SELECT doc_id,
         CAST(CASE WHEN len(__toks) >= 3 THEN len(__toks) - 2 ELSE 0 END AS BIGINT) AS n_3grams,
         len({SHINGLES_DUCK}) AS n_distinct
  FROM toks
)
SELECT doc_id, n_3grams,
       CASE WHEN n_3grams > 0
            THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_3grams, 6)
            ELSE 0.0 END AS dup_3gram_ratio,
       (CASE WHEN n_3grams > 0
             THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_3grams, 6)
             ELSE 0.0 END) > 0.1 AS is_repetitive
FROM stats
"""

EXT_QUERIES["repetition_ngram_ratio"] = q_repetition_ngram_ratio
EXT_ORACLES["repetition_ngram_ratio"] = ORACLE_REPETITION_NGRAM_RATIO


def q_decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination: count, for every corpus document, the
    word-3-gram shingles it shares with a (small) benchmark set — here
    the shingles of docs 0-4 stand in for the benchmark suite. Docs
    with any overlap are contamination candidates for removal before
    training.

    Scale: the benchmark side is tiny by construction (a test suite,
    not a corpus) → explicit broadcast; the corpus side streams through
    a map-side hash semi-lookup — no corpus shuffle at all. The
    groupBy shuffles only the MATCHED rows (rare at real scale)."""
    sh = _doc_shingles(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") < 5).select(F.col("s").alias("bs")).distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= 5)
    return (
        corpus.join(F.broadcast(bench), corpus.s == bench.bs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


ORACLE_DECONTAMINATE_OVERLAP = f"""
WITH {SHINGLES_CTE_DUCK},
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5)
SELECT doc_id, COUNT(*) AS n_contaminated_shingles
FROM sh JOIN bench USING (s)
WHERE doc_id >= 5
GROUP BY doc_id
"""

EXT_QUERIES["decontaminate_overlap"] = q_decontaminate_overlap
EXT_ORACLES["decontaminate_overlap"] = ORACLE_DECONTAMINATE_OVERLAP


def q_approx_distinct_users(spark, sf_dir):
    """Sketch aggregates: HyperLogLog++ distinct-user counts and a
    t-digest-style quantile per event type. NO SQL oracle — sketch
    values are engine-specific by nature (rows-only driver check; the
    accuracy bound vs the exact answer is asserted in
    tests/test_operators.py::test_approx_distinct_accuracy).

    Scale: this is THE cardinality pattern at 100 TB — a fixed-size
    sketch (HLL registers / quantile buffer) merges associatively
    map-side, so the shuffle carries kilobytes per group instead of
    the distinct-user set itself (compare exact COUNT DISTINCT, which
    shuffles every distinct value)."""
    from .core import _events

    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx(F.col("value").cast("double"), 0.5, 1000).alias(
            "p50_value_approx"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


EXT_QUERIES["approx_distinct_users"] = q_approx_distinct_users
# no oracle on purpose: sketches are engine-specific (rows-only check)


def _ann_multiprobe_scored(spark, sf_dir, nprobe: int, soft: bool = False):
    """Candidate generation + exact-cosine scoring for IVF search at a
    given ``nprobe``: each query fans out to its ``nprobe`` nearest
    centroids by L2 (``_ivf_probes`` — the k×d literal expression runs
    over the 10 query rows only, never the corpus), explode →
    equi-join on list id against the materialized assignment table.
    ``soft=True`` joins the 2-way replica (``_ivf_assignments_soft``)
    instead — a candidate whose two lists are BOTH probed would match
    twice, so the pair set is de-duplicated before scoring. Returns
    the scored (query_id, cand_id, cos_sim) candidate frame —
    ``q_ann_ivf_multiprobe``/``q_ann_ivf_soft_topk`` window it to
    gates; ``ann_recall_curve`` sweeps nprobe over both variants to
    produce the recall/cost tuning table."""
    centroids = _ivf_index(spark, sf_dir)
    q = (
        _vectors(spark, sf_dir, "query_id", "qv", "qn")
        .drop("label")
        .filter(F.col("query_id") < 10)
    )
    probes = q.select(
        "query_id",
        "qv",
        "qn",
        F.explode(_ivf_probes(centroids, F.col("qv"), nprobe)).alias("plabel"),
    )
    assign = (
        _ivf_assignments_soft(spark, sf_dir)
        if soft
        else _ivf_assignments(spark, sf_dir)
    )
    cand = (
        _vectors(spark, sf_dir, "cand_id", "cv", "cn")
        .drop("label")
        .join(assign, F.col("cand_id") == F.col("vec_id"))
        .select("cand_id", "cv", "cn", F.col("cid").alias("clabel"))
    )
    matched = (
        F.broadcast(probes)
        .join(cand, F.col("plabel") == F.col("clabel"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    if soft:
        matched = matched.dropDuplicates(["query_id", "cand_id"])
    return matched.select(
        "query_id",
        "cand_id",
        _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
    )


def q_ann_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with nprobe=2 searching the BUILT index: each query
    fans out to a PROBE LIST — its own k-means list plus the next
    nearest centroid by actual L2 distance (see ``_ivf_probes``) —
    explode → equi-join on list id → windowed top-k. Better recall
    than nprobe=1 at the cost of probing 2/k of the corpus — still no
    cross join, and the probe fan-out is a constant factor, not a
    data one. The DuckDB oracle reproduces the probe choice from the
    materialized centroids/assignments tables."""
    scored = _ann_multiprobe_scored(spark, sf_dir, 2)
    return _cos_topk(scored, 3)


def ann_recall_curve(
    spark, sf_dir, nprobes=(1, 2, 4, 8), ks=(3, 10)
) -> dict[str, dict]:
    """The IVF OPERATING TABLE a 100 TB deployment tunes against:
    recall@k (vs the exact brute-force top-k) and mean candidate count
    per query, for each ``nprobe``. Recall is monotone non-decreasing
    in nprobe (probe lists are nested prefixes of the same
    centroid-distance ranking) while candidate cost grows ~nprobe/k —
    the table shows where the curve saturates and what each recall
    point costs. Driver-side state: |queries|×max(k) id pairs per
    operating point — metadata."""
    kmax = max(ks)
    q = _vectors(spark, sf_dir, "query_id", "qv", "qn").filter(
        F.col("query_id") < 10
    )
    cand = _vectors(spark, sf_dir, "cand_id", "cv", "cn")
    exact_scored = (
        F.broadcast(q.drop("label"))
        .crossJoin(cand.drop("label"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
        )
    )
    exact = _cos_topk(exact_scored, kmax).select("query_id", "cand_id", "rank").collect()
    exact_at = {
        k: {(r["query_id"], r["cand_id"]) for r in exact if r["rank"] <= k}
        for k in ks
    }
    n_queries = len({r["query_id"] for r in exact}) or 1
    out: dict[str, dict] = {}
    for soft in (False, True):
        for nprobe in nprobes:
            scored = _ann_multiprobe_scored(spark, sf_dir, nprobe, soft=soft)
            n_cand = scored.count()
            got = _cos_topk(scored, kmax).select("query_id", "cand_id", "rank").collect()
            point: dict[str, float] = {
                "mean_candidates_per_query": round(n_cand / n_queries, 1)
            }
            for k in ks:
                hits = {
                    (r["query_id"], r["cand_id"]) for r in got if r["rank"] <= k
                }
                point[f"recall_at_{k}"] = round(
                    len(exact_at[k] & hits) / max(len(exact_at[k]), 1), 4
                )
            key = f"soft2_nprobe_{nprobe}" if soft else f"nprobe_{nprobe}"
            out[key] = point
    return out


ORACLE_ANN_IVF_MULTIPROBE = f"""
WITH asg AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
cent AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/centroids/*.parquet')),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, qa.cid AS qcid
      FROM embeddings e JOIN asg qa ON qa.vec_id = e.vec_id
      WHERE e.vec_id < 10),
second AS (
  SELECT query_id, cid AS plabel FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_sum([(z[1] - z[2]) * (z[1] - z[2])
                              FOR z IN list_zip(CAST(q.qv AS DOUBLE[]), c.centroid)]), 6),
                      c.cid
           ) AS rn
    FROM q JOIN cent c ON c.cid <> q.qcid
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qcid AS plabel FROM q
  UNION ALL
  SELECT query_id, plabel FROM second
),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q JOIN probes p ON p.query_id = q.query_id
  JOIN asg ca ON ca.cid = p.plabel
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""

EXT_QUERIES["ann_ivf_multiprobe"] = q_ann_ivf_multiprobe
EXT_ORACLES["ann_ivf_multiprobe"] = ORACLE_ANN_IVF_MULTIPROBE


def q_ann_ivf_soft_topk(spark, sf_dir):
    """IVF ANN over the SOFT (2-way) assignment replica at nprobe=2 —
    the recall-recovery path for weak-cluster corpora
    (``_ivf_assignments_soft``): each corpus vector is indexed under
    its two nearest lists, so a true neighbor sitting just across a
    list boundary is still reachable from the query's probes. The r8
    recall analysis (PLANS.md) measured single-assignment recall@10
    saturating at ~0.86 with 8/32 lists probed — a property of this
    corpus's near-uniform sphere geometry that no init improves —
    while 2-way replication reaches ≥0.95 at the same nprobe for ~2×
    candidate cost. The DuckDB oracle reproduces probe choice AND the
    replica join (with the same pair de-dup) from the materialized
    artifacts."""
    scored = _ann_multiprobe_scored(spark, sf_dir, 2, soft=True)
    return _cos_topk(scored, 3)


ORACLE_ANN_IVF_SOFT_TOPK = f"""
WITH asg AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
soft AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments_soft/*.parquet')),
cent AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/centroids/*.parquet')),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, qa.cid AS qcid
      FROM embeddings e JOIN asg qa ON qa.vec_id = e.vec_id
      WHERE e.vec_id < 10),
second AS (
  SELECT query_id, cid AS plabel FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_sum([(z[1] - z[2]) * (z[1] - z[2])
                              FOR z IN list_zip(CAST(q.qv AS DOUBLE[]), c.centroid)]), 6),
                      c.cid
           ) AS rn
    FROM q JOIN cent c ON c.cid <> q.qcid
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qcid AS plabel FROM q
  UNION ALL
  SELECT query_id, plabel FROM second
),
scored AS (
  SELECT DISTINCT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q JOIN probes p ON p.query_id = q.query_id
  JOIN soft ca ON ca.cid = p.plabel
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""

EXT_QUERIES["ann_ivf_soft_topk"] = q_ann_ivf_soft_topk
EXT_ORACLES["ann_ivf_soft_topk"] = ORACLE_ANN_IVF_SOFT_TOPK


def q_ann_ivf_quantized(spark, sf_dir):
    """IVF ANN with INT8-QUANTIZED candidate scoring + exact float
    rescoring — the memory-bandwidth plan for ANN over a 100 TB
    embedding corpus: the search scans 1-byte-per-dim codes (4× less
    IO than float32; quantization per ``embedding_quantize``:
    scale = max|x|/127, code = floor(x/scale + 0.5)), ranks a
    per-query SHORTLIST (top-8) by the approximate cosine
    dot(codes)·scale_q·scale_c / (‖q‖·‖c‖), and only then touches the
    full-precision vectors — joined BY ID for shortlist rows only —
    to rescore and emit the exact-cosine top-3.

    Plan shape: candidate generation and approx scoring move only
    (id, cid, codes, scale, norm); the shortlist window runs on a
    NARROW (query_id, cand_id, approx) projection; float arrays enter
    exactly twice, keyed by id, for 8 rows per query. Shortlist and
    final ranking break ties by cand_id on 6-dp-rounded scores, so
    the DuckDB oracle reproduces both orderings bit-for-bit."""
    asg = _ivf_assignments(spark, sf_dir)
    v = _vectors(spark, sf_dir, "vec_id", "v", "vn").drop("label")
    absmax = F.aggregate(
        F.transform(F.col("v"), lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.col("am") / F.lit(127.0)
    codes = (
        v.select("vec_id", "v", "vn", absmax.alias("am"))
        .filter(F.col("am") > 0)
        .select(
            "vec_id",
            "vn",
            scale.alias("qscale"),
            F.transform(F.col("v"), lambda x: F.floor(x / scale + F.lit(0.5))).alias(
                "qcodes"
            ),
        )
        .join(asg, "vec_id")
    )
    q = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("vn").alias("qn"),
        F.col("qscale").alias("qs"),
        F.col("qcodes").alias("qc"),
        F.col("cid").alias("qcid"),
    )
    c = codes.select(
        F.col("vec_id").alias("cand_id"),
        F.col("vn").alias("cn"),
        F.col("qscale").alias("cs"),
        F.col("qcodes").alias("cc"),
        F.col("cid").alias("ccid"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    approx = F.round(qdot * F.col("qs") * F.col("cs") / (F.col("qn") * F.col("cn")), 6)
    pairs = (
        F.broadcast(q)
        .join(c, F.col("qcid") == F.col("ccid"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", approx.alias("approx_sim"))  # NARROW
    )
    order = [F.col("approx_sim").desc(), F.col("cand_id").asc()]
    shortlist = top_k_per_group(pairs, "query_id", order, 8, "ar")
    # exact rescore: float vectors join in BY ID, shortlist rows only
    qv = _vectors(spark, sf_dir, "query_id", "qv", "rqn").drop("label")
    cv = _vectors(spark, sf_dir, "cand_id", "cv", "rcn").drop("label")
    exact = _cos(F.col("qv"), F.col("cv"), F.col("rqn"), F.col("rcn"))
    return _cos_topk(
        shortlist.join(qv, "query_id")
        .join(cv, "cand_id")
        .select("query_id", "cand_id", "approx_sim", exact.alias("cos_sim")),
        3,
    )


ORACLE_ANN_IVF_QUANTIZED = f"""
WITH a AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS n,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale
  FROM e
  WHERE list_max(list_transform(v, x -> abs(x))) > 0
),
codes AS (
  SELECT s.vec_id, s.v, s.n, s.qscale,
         list_transform(s.v, x -> floor(x / s.qscale + 0.5)) AS qcodes,
         a.cid
  FROM s JOIN a ON a.vec_id = s.vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_sum(list_transform(list_zip(q.qcodes, c.qcodes), z -> z[1] * z[2]))
               * q.qscale * c.qscale / (q.n * c.n), 6) AS approx_sim
  FROM codes q JOIN codes c ON q.cid = c.cid AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
shortlist AS (
  SELECT query_id, cand_id, approx_sim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY approx_sim DESC, cand_id ASC) AS ar
    FROM pairs
  ) WHERE ar <= 8
)
SELECT query_id, cand_id, approx_sim, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT sl.query_id, sl.cand_id, sl.approx_sim,
         round(list_cosine_similarity(qe.v, ce.v), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY sl.query_id
           ORDER BY round(list_cosine_similarity(qe.v, ce.v), 6) DESC,
                    sl.cand_id ASC) AS rank
  FROM shortlist sl
  JOIN e qe ON qe.vec_id = sl.query_id
  JOIN e ce ON ce.vec_id = sl.cand_id
) WHERE rank <= 3
"""

EXT_QUERIES["ann_ivf_quantized"] = q_ann_ivf_quantized
EXT_ORACLES["ann_ivf_quantized"] = ORACLE_ANN_IVF_QUANTIZED


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation decision: the composition a real
    training-data pipeline runs per snapshot — length filter +
    repetition filter + exact-dedup keeper election — folded into ONE
    pass over the corpus.

    Plan shape: all quality/repetition signals are row-local array
    expressions (same codegen stage as the scan); the only shuffle is
    the dedup-keeper window on the content digest. At 100 TB: one scan,
    one hash-partition by digest, decision written alongside the doc —
    no per-filter re-scans of the corpus (the naive pipeline-of-jobs
    runs 3+ scans)."""
    from pyspark.sql import Window

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    d = d.withColumn("__toks", F.expr(TOKENS_SPARK)).withColumn(
        "__sh", F.expr(SHINGLES_SPARK)
    )
    total = F.greatest(F.size("__toks") - F.lit(2), F.lit(0))
    dup = F.when(
        total > 0,
        F.round(
            F.lit(1.0) - F.size("__sh").cast("double") / total.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy(F.md5(F.col("text")))
    d = d.select(
        "doc_id",
        (F.size("__toks") < 20).alias("is_short"),
        (dup > 0.1).alias("is_repetitive"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )
    return d.withColumn(
        "keep",
        ~F.col("is_short") & ~F.col("is_repetitive") & ~F.col("is_duplicate"),
    )


ORACLE_CURATION_PIPELINE = f"""
WITH toks AS (SELECT doc_id, text, {TOKENS_DUCK} AS __toks FROM documents),
flags AS (
  SELECT doc_id,
         len(__toks) < 20 AS is_short,
         (CASE WHEN len(__toks) >= 3
               THEN round(1.0 - CAST(len({SHINGLES_DUCK}) AS DOUBLE) / (len(__toks) - 2), 6)
               ELSE 0.0 END) > 0.1 AS is_repetitive,
         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
  FROM toks
)
SELECT doc_id, is_short, is_repetitive, is_duplicate,
       NOT is_short AND NOT is_repetitive AND NOT is_duplicate AS keep
FROM flags
"""

EXT_QUERIES["curation_pipeline"] = q_curation_pipeline
EXT_ORACLES["curation_pipeline"] = ORACLE_CURATION_PIPELINE


# ---------------------------------------------------------------------------
# Round 3: PII redaction, quality deciles, stratified sampling
# ---------------------------------------------------------------------------


def q_pii_redact(spark, sf_dir):
    """PII redaction — the scrub pass every training-data pipeline
    runs before release. The synthetic corpus carries no contact info,
    so the query first INJECTS deterministic fake emails/phones on a
    subset of rows (doc_id % 3 / % 4), then redacts with the
    production regexes; counts come from regexp_extract_all so the
    detector and the redactor share one pattern definition.

    Plan shape: pure row-local regex expressions — map-only,
    zero-shuffle, whole-stage codegen; at 100 TB this runs at scan
    speed. Patterns are intersection-of-dialects (Java regex + RE2)
    so the DuckDB oracle runs the identical definition."""
    email_re = r"[a-z0-9]+@[a-z]+\.com"
    phone_re = r"\+1-555-[0-9]{4}"
    d = _t(spark, sf_dir, "documents")
    aug = (
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" tel +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        )
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(phone_re), F.lit(0))).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


ORACLE_PII_REDACT = r"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.com')) AS n_emails,
       len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z]+\.com', '[EMAIL]', 'g'),
                          '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
FROM aug
"""

EXT_QUERIES["pii_redact"] = q_pii_redact
EXT_ORACLES["pii_redact"] = ORACLE_PII_REDACT


def q_quality_deciles(spark, sf_dir):
    """Quality-decile bucketing: rank every document into 10 equal
    buckets by a quality score (token count here), then profile each
    bucket — the standard shape for 'train on the top-k deciles'
    curation decisions.

    Plan shape: NTILE with no PARTITION BY would collapse the corpus
    onto one task, so this uses ``operators.ranking.global_ntile`` —
    a parallel range sort plus per-partition offsets (two tiny driver
    collects: partition counts and the total), then a 10-group
    aggregate. Ties are broken by doc_id so the decile assignment is
    total-order deterministic and oracle-exact."""
    from ..operators.ranking import global_ntile

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    score = F.size(F.expr(TOKENS_SPARK)).alias("score")
    deciled = global_ntile(
        d.select("doc_id", score), 10, ["score", "doc_id"], bucket_col="decile"
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


ORACLE_QUALITY_DECILES = f"""
WITH scored AS (
  SELECT doc_id, len({TOKENS_DUCK}) AS score FROM documents
),
deciled AS (
  SELECT doc_id, score, ntile(10) OVER (ORDER BY score, doc_id) AS decile
  FROM scored
)
SELECT decile, count(*) AS n_docs, min(score) AS min_score, max(score) AS max_score
FROM deciled GROUP BY decile
"""

EXT_QUERIES["quality_deciles"] = q_quality_deciles
EXT_ORACLES["quality_deciles"] = ORACLE_QUALITY_DECILES


def q_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: a per-source sampling rate
    (downweight over-represented sources, keep the rare ones whole) via
    the portable md5-prefix hash — rerun-stable, join-free, map-only.
    The SAME rows are selected in any engine that computes the hash,
    which is what makes the sample auditable; contrast rand()-based
    sampling, which is neither reproducible nor oracle-checkable.

    At 100 TB: zero shuffle — the filter runs in the scan stage, and
    per-source rates come from a CASE on the partition-friendly
    ``source`` column."""
    d = _t(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(25))
        .when(F.col("source").isin("src3", "src4"), F.lit(50))
        .otherwise(F.lit(100))
    )
    bucket = F.pmod(_h(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), F.lit(100))
    return d.filter(bucket < rate).select("doc_id", "source", "lang")


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source, lang
FROM documents
WHERE {H_SQL.format(x="'strat:' || CAST(doc_id AS VARCHAR)")} % 100
      < CASE WHEN source IN ('src0','src1','src2') THEN 25
             WHEN source IN ('src3','src4') THEN 50
             ELSE 100 END
"""

EXT_QUERIES["stratified_sample"] = q_stratified_sample
EXT_ORACLES["stratified_sample"] = ORACLE_STRATIFIED_SAMPLE


def q_range_join_windows(spark, sf_dir):
    """Keyless point-in-interval (range) join, bucketized: count the
    'view' events falling inside a ±1 h window around every 'purchase'
    event. Spark's native plan for ``t BETWEEN lo AND hi`` with no
    equi-key is a BroadcastNestedLoopJoin — O(|points| x |intervals|)
    and an unbounded broadcast, banned by this repo's plan sweep.
    ``operators.interval.point_in_interval_join`` rewrites it as an
    equi-join on ``floor(t / bucket_width)`` with interval replication
    bounded at 2 buckets here (width = window length), plus a residual
    BETWEEN filter — shuffle-partitionable and AQE-splittable at any
    scale."""
    from ..operators.interval import point_in_interval_join
    from .core import _events

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("long").alias("t")
    )
    wins = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        (F.col("ts").cast("long") - 3600).alias("win_start"),
        (F.col("ts").cast("long") + 3600).alias("win_end"),
    )
    joined = point_in_interval_join(
        views, wins, "t", "win_start", "win_end", bucket_width=7200
    )
    return joined.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.countDistinct("user_id").alias("n_view_users"),
    )


from .core import epoch_sql as _epoch_sql  # noqa: E402

ORACLE_RANGE_JOIN_WINDOWS = f"""
WITH p AS (
  SELECT user_id, {_epoch_sql()} AS t FROM events WHERE event_type = 'view'
),
i AS (
  SELECT event_id AS win_id,
         {_epoch_sql()} - 3600 AS win_start,
         {_epoch_sql()} + 3600 AS win_end
  FROM events WHERE event_type = 'purchase'
)
SELECT win_id, count(*) AS n_views, count(DISTINCT user_id) AS n_view_users
FROM i JOIN p ON p.t BETWEEN i.win_start AND i.win_end
GROUP BY win_id
"""

EXT_QUERIES["range_join_windows"] = q_range_join_windows
EXT_ORACLES["range_join_windows"] = ORACLE_RANGE_JOIN_WINDOWS


def q_range_join_windows_agg(spark, sf_dir):
    """The AGGREGATE twin of ``range_join_windows``: per-window view
    count + exact-decimal value sum with the aggregate pushed BELOW
    the residual join (``operators.interval.point_in_interval_agg``).
    The pair-producing gate is output-bound — dense data grows |pairs|
    quadratically inside a fixed time grid (r7 sf1 probe: 213 s,
    workload not plan) — while real consumers usually want per-window
    aggregates: this plan pre-aggregates points per 10-minute fine
    bucket, takes FULL buckets' (cnt, sum) in bulk, and touches actual
    points only for the ≤ 2 EDGE buckets per window, so cost scales
    with |points| + |windows| · buckets-per-window, NOT with |pairs|.
    countDistinct stays with the pair gate (distincts don't merge
    across buckets)."""
    from ..operators.interval import point_in_interval_agg
    from .core import _events

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("ts").cast("long").alias("t"),
        "value",
    )
    wins = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        (F.col("ts").cast("long") - 3600).alias("win_start"),
        (F.col("ts").cast("long") + 3600).alias("win_end"),
    )
    agg = point_in_interval_agg(
        views, wins, "t", "win_start", "win_end",
        interval_id="win_id", fine_width=600, sum_cols=("value",),
    )
    return agg.select(
        "win_id",
        F.col("n_points").alias("n_views"),
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


ORACLE_RANGE_JOIN_WINDOWS_AGG = f"""
WITH p AS (
  SELECT {_epoch_sql()} AS t, value FROM events WHERE event_type = 'view'
),
i AS (
  SELECT event_id AS win_id,
         {_epoch_sql()} - 3600 AS win_start,
         {_epoch_sql()} + 3600 AS win_end
  FROM events WHERE event_type = 'purchase'
)
SELECT win_id, count(*) AS n_views,
       round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_value
FROM i JOIN p ON p.t BETWEEN i.win_start AND i.win_end
GROUP BY win_id
"""

EXT_QUERIES["range_join_windows_agg"] = q_range_join_windows_agg
EXT_ORACLES["range_join_windows_agg"] = ORACLE_RANGE_JOIN_WINDOWS_AGG


def q_streaming_hourly_counts(spark, sf_dir):
    """§2.9, oracle-verified STREAMING: a Structured-Streaming windowed
    aggregation (tumbling 1 h on event time, watermarked) run with
    ``Trigger.AvailableNow`` in COMPLETE mode over the static events
    table. Over bounded input, streaming semantics equal batch
    semantics, so the result hash-matches the same SQL every batch
    query is held to — the strongest correctness statement available
    for the streaming path (the per-increment behavior is covered in
    tests/test_streaming.py).

    Plan: file-source micro-batches feed a stateful window aggregate
    (partial per batch, merged in the state store); sums go through
    decimal(38,10) like every gated aggregate so the state-merge order
    cannot perturb the float result. COMPLETE mode + memory sink is
    the VERIFICATION harness only (result cardinality = windows x
    types, driver-collected); the production shape at scale is append
    mode to a real sink with watermark-finalized windows — that
    per-increment path is what tests/test_streaming.py covers."""
    from .core import DEC

    ev = _stream_table(spark, sf_dir, "events", "streaming_hourly_counts")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    return _run_stream(agg, "complete").select(
        F.col("w.start").cast("long").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


ORACLE_STREAMING_HOURLY_COUNTS = """
SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_start,
       event_type,
       count(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

EXT_QUERIES["streaming_hourly_counts"] = q_streaming_hourly_counts
EXT_ORACLES["streaming_hourly_counts"] = ORACLE_STREAMING_HOURLY_COUNTS


def q_streaming_enriched_revenue(spark, sf_dir):
    """§2.9, oracle-verified stream-STATIC join: streaming purchase
    events broadcast-joined to the static customer dimension inside
    the micro-batch, aggregated per market segment — the standard
    'enrich the stream with a dim table' topology. AvailableNow +
    complete mode over bounded input equals the batch join+aggregate,
    so it is held to the same DuckDB oracle as every batch query.
    Decimal sums neutralize state-merge order (core.py discipline)."""
    from .core import DEC

    ev = _stream_table(spark, sf_dir, "events", "streaming_enriched_revenue")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("revenue"),
        )
    )
    return _run_stream(joined, "complete")


ORACLE_STREAMING_ENRICHED_REVENUE = """
SELECT c_mktsegment,
       count(*) AS n_purchases,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""

EXT_QUERIES["streaming_enriched_revenue"] = q_streaming_enriched_revenue
EXT_ORACLES["streaming_enriched_revenue"] = ORACLE_STREAMING_ENRICHED_REVENUE


def q_dedup_incremental_minhash(spark, sf_dir):
    """INCREMENTAL near-dup — the operator a daily 100 TB corpus
    actually runs (mirrors the reference's high-watermark incremental
    pattern, `stage_tranformation_queries.py:20`, applied to dedup):

    1. the EXISTING corpus's LSH band signatures are a PERSISTED index
       (parquet table of (doc_id, band, key) rows — written by the
       previous batch run, read back here, never recomputed);
    2. the new batch computes signatures for ITS docs only, then finds
       (a) new↔existing pairs by probe-joining the index and
       (b) new↔new pairs by self-join — both equi-joins on (band, key);
    3. the index is maintained by APPENDING the new batch's rows.

    Per-batch cost is O(|batch| + matches), not O(|corpus|): the corpus
    is touched only through the index equi-join. Over bounded input,
    prior-batch pairs ∪ probe pairs ∪ intra-batch pairs must equal the
    full recompute — this query IS that equivalence, gated against the
    same DuckDB full-recompute oracle as ``dedup_minhash_lsh``.

    Batch split is ``doc_id % 4 == 0`` (deterministic, interleaved ids
    so pair normalization via least/greatest is exercised)."""
    from ..sources.fsutil import list_parquet_files, scratch_dir

    sh = _doc_shingles(spark, sf_dir)
    bands = lsh_bands(minhash_signature(sh))
    is_new = F.col("doc_id") % 4 == 0

    # r12-opt (guide §1.2/§2.4 "don't compute things you throw away"):
    # the band pipeline (tokenize→shingle→minhash-groupBy→band) used to
    # execute FIVE times per call — once writing the index (existing
    # docs) and once per appearance of the lazy ``new_bands`` frame
    # (probe side, both intra-join sides, maintenance append). ONE
    # partitioned write now materializes the full band table in a
    # single corpus pass; the persisted index and the new batch are its
    # two partition directories, and every later consumer reads parquet
    # instead of recomputing minhashes (1.0 corpus passes vs 1.75, and
    # the result job loses three shingle→minhash subtrees).
    stage = scratch_dir("dedup_incremental_minhash")
    bands.withColumn("__new", is_new.cast("int")).write.partitionBy(
        "__new"
    ).mode("overwrite").parquet(stage)
    # previous batch state: persisted index over the existing corpus
    # (the __new=0 partition directory IS the index parquet table).
    # Read through the STAGE ROOT with basePath + a partition filter:
    # the partitioned write only creates directories for non-empty
    # partitions, and a direct read of a missing path throws where the
    # pre-staging shape returned a valid empty frame. A fully empty
    # bands table leaves no parquet at all under the root — that case,
    # and only that case, is an empty frame of the same schema; any
    # other read failure (a corrupt staged file) raises.
    if list_parquet_files(spark, stage):
        staged = spark.read.option("basePath", stage).parquet(stage)
        idx = staged.filter(F.col("__new") == 0).drop("__new")
        new_bands = staged.filter(F.col("__new") == 1).drop("__new")
    else:
        idx = spark.createDataFrame([], bands.schema)
        new_bands = spark.createDataFrame([], bands.schema)

    def _pairs(left: DataFrame, right: DataFrame, anti_sym: bool) -> DataFrame:
        """One row per shared band; pair normalized (doc_a < doc_b).
        anti_sym=True for self-joins (a < b dedups the symmetric
        match); False for the cross probe (memberships are disjoint,
        so each unordered pair matches exactly once)."""
        l, r = left.alias("l"), right.alias("r")
        cond = (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key"))
        cond = cond & (
            (F.col("l.doc_id") < F.col("r.doc_id"))
            if anti_sym
            else (F.col("l.doc_id") != F.col("r.doc_id"))
        )
        return l.join(r, cond).select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
        )

    known = _pairs(idx, idx, anti_sym=True)        # prior batch's output
    probe = _pairs(new_bands, idx, anti_sym=False) # new ↔ existing
    intra = _pairs(new_bands, new_bands, anti_sym=True)  # new ↔ new

    # MATERIALIZE the result: the eager localCheckpoint reads the stage
    # inside the call, so a corrupt staged file fails the gate here.
    # The next batch's index is old + these __new=1 rows (at production
    # scale a version committed via fsutil.manifest_commit); this gate
    # serves one batch, so the stage is scratch, not appended to.
    return (
        known.union(probe)
        .union(intra)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .localCheckpoint()  # eager
    )


# full-recompute oracle — incremental maintenance must be invisible
ORACLE_DEDUP_INCREMENTAL_MINHASH = ORACLE_DEDUP_MINHASH_LSH

EXT_QUERIES["dedup_incremental_minhash"] = q_dedup_incremental_minhash
EXT_ORACLES["dedup_incremental_minhash"] = ORACLE_DEDUP_INCREMENTAL_MINHASH


def _stream_table(spark, sf_dir, table, gate, root=None, tail=None):
    """``table`` replayed as a bounded file stream: its parquet file is
    symlinked into ``<root>/src`` (the file source reads a directory;
    no data copy) and read with the schema ``_t`` reads, one file per
    micro-batch, ``ts`` normalized by ``core._utc_ts``. ``root`` is the
    call's scratch dir (``scratch_dir(gate)`` by default; a gate that
    also stages a sink passes its own).

    ``tail(static)``, if given, maps the static table (in the file's
    physical schema) to rows staged as a second file, which the stream
    reads as its own, later micro-batch."""
    import glob

    from ..sources.fsutil import scratch_dir
    from .core import _utc_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = _t(spark, sf_dir, table)
    root = root or scratch_dir(gate)
    src = os.path.join(root, "src")
    os.mkdir(src)
    name = f"{table}.parquet"
    os.symlink(os.path.join(sf_dir, name), os.path.join(src, name))
    if tail is not None:
        rows = os.path.join(root, "tail")
        tail(static).coalesce(1).write.parquet(rows)
        part = glob.glob(os.path.join(rows, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src, "tail.parquet"))
    return _utc_ts(
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _run_stream(df, mode: str) -> DataFrame:
    """Execute a bounded stream to a memory sink and return its result
    (AvailableNow; the VERIFICATION harness — production writes
    append-mode to a real sink). The returned frame holds the sink
    itself, so the sink's temp view is dropped: a session keeps no
    view per call."""
    import uuid

    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def q_streaming_dedup(spark, sf_dir):
    """§2.9 stateful streaming DEDUP: ``dropDuplicates`` on the key
    inside the stream — every key's first arrival passes, repeats are
    absorbed by the state store across micro-batches. Output restricted
    to the dedup key columns so which physical row survived is
    invisible (deterministic vs the DISTINCT oracle). At scale the
    state store is keyed RocksDB per shuffle partition; with a
    watermark (``dropDuplicatesWithinWatermark``) state is bounded —
    unbounded here because the gate input is bounded."""
    ev = _stream_table(spark, sf_dir, "events", "streaming_dedup")
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_stream(dedup, "append")


ORACLE_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""

EXT_QUERIES["streaming_dedup"] = q_streaming_dedup
EXT_ORACLES["streaming_dedup"] = ORACLE_STREAMING_DEDUP


def q_streaming_sessionize(spark, sf_dir):
    """§2.9 stream SESSIONIZATION: native ``session_window`` (gap 30
    min) — the stateful merging-window operator; sessions extend while
    successive events arrive within (or exactly at) the gap — Spark
    merges windows that touch, so only diff > gap splits (boundary
    pinned by test). ts truncated to
    whole seconds first so the window arithmetic is exactly the epoch
    arithmetic the oracle runs. Over bounded input the session set
    equals the batch gap-rule sessionization (same rule as the batch
    ``sessionize_events`` gate, there via lag + running sum)."""
    ev = _stream_table(spark, sf_dir, "events", "streaming_sessionize")
    ev = ev.withColumn("ts", F.col("ts").cast("long").cast("timestamp"))
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_stream(sess, "complete").select(
        "user_id",
        F.col("w.start").cast("long").alias("session_start"),
        F.col("w.end").cast("long").alias("session_end"),
        "n_events",
    )


# gap rule: a session window covers [min t, max t + gap]; the next
# event MERGES iff its window overlaps OR TOUCHES, i.e. diff <= 1800 —
# only diff > 1800 starts a new session. Spark's session_window merges
# at the exact-gap boundary (verified empirically at sf0.1, where two
# events exactly 1800 s apart produced ONE session; pinned by
# test_session_window_merges_at_exact_gap_boundary so a future Spark
# semantics change announces itself).
ORACLE_STREAMING_SESSIONIZE = f"""
WITH e AS (SELECT user_id, {{epoch}} AS t FROM events),
marks AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER w IS NULL
              OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t)
),
sess AS (
  SELECT user_id, t,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       min(t) AS session_start,
       max(t) + 1800 AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""".format(epoch=_epoch_sql())

EXT_QUERIES["streaming_sessionize"] = q_streaming_sessionize
EXT_ORACLES["streaming_sessionize"] = ORACLE_STREAMING_SESSIONIZE


def q_streaming_interval_join(spark, sf_dir):
    """§2.9 STREAM-STREAM join: purchases stream ⋈ views stream on
    user_id with an event-time interval constraint (view within ±1 h of
    the purchase) — the topology that correlates two live feeds. Both
    sides carry watermarks and the join condition bounds event-time
    distance, so the state store provably expires rows older than
    watermark + interval (without the time bound a stream-stream join
    would buffer forever). Append mode: inner-join matches emit as
    found. Over bounded input this equals the batch interval join, so
    it is held to the same DuckDB oracle as every batch query."""
    ev = _stream_table(spark, sf_dir, "events", "streaming_interval_join")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "1 hour")
    )
    j = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
    )
    return _run_stream(j, "append").select(
        "p_id",
        "v_id",
        F.col("p_user").alias("user_id"),
        F.col("pts").cast("long").alias("purchase_ts"),
        F.col("vts").cast("long").alias("view_ts"),
    )


ORACLE_STREAMING_INTERVAL_JOIN = f"""
SELECT p.event_id AS p_id,
       v.event_id AS v_id,
       p.user_id,
       {_epoch_sql('p.ts')} AS purchase_ts,
       {_epoch_sql('v.ts')} AS view_ts
FROM events p
JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""

EXT_QUERIES["streaming_interval_join"] = q_streaming_interval_join
EXT_ORACLES["streaming_interval_join"] = ORACLE_STREAMING_INTERVAL_JOIN


def q_dedup_clusters_lsh(spark, sf_dir):
    """Text-side near-dup CLUSTERS at scale: connected components over
    the LSH→exact-verified pair list (``dedup_lsh_verified`` — linear
    candidate generation, verify on candidates only). The document
    twin of ``dedup_clusters_blocked``: pair generation, component
    labeling, and keeper election are all equi-join/groupBy stages —
    nothing quadratic, nothing driver-side but O(rounds) counters."""
    from ..operators.graph import connected_components

    pairs = _lsh_edges(spark, sf_dir)
    # input_materialized: the edge list is the load-first artifact — a
    # zero-lineage parquet read — so CC's up-front edge round-trip
    # would only re-write what is already on disk
    labels = connected_components(
        pairs, "doc_a", "doc_b", symmetrize=True, input_materialized=True
    )
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keeper_doc_id"),
    )
    return out.select(
        F.col("label").alias("cluster_id"), "cluster_size", "keeper_doc_id"
    )


ORACLE_DEDUP_CLUSTERS_LSH = f"""
WITH {_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT walk.src, e.b FROM walk JOIN edges e ON walk.dst = e.a
  )
  SELECT src, dst FROM walk
),
labels AS (
  SELECT n.node, least(n.node, min(tc.dst)) AS label
  FROM nodes n LEFT JOIN tc ON tc.src = n.node
  GROUP BY n.node
)
SELECT label AS cluster_id,
       COUNT(*) AS cluster_size,
       min(node) AS keeper_doc_id
FROM labels GROUP BY label
"""

EXT_QUERIES["dedup_clusters_lsh"] = q_dedup_clusters_lsh
EXT_ORACLES["dedup_clusters_lsh"] = ORACLE_DEDUP_CLUSTERS_LSH


def q_dedup_clusters_incremental(spark, sf_dir):
    """INCREMENTAL near-dup cluster maintenance: the verified edge list
    is split into an OLD batch (both docs with doc_id % 5 != 0) and a
    NEW batch (any endpoint doc_id % 5 == 0); components are computed
    on the old batch, then the new batch is merged via
    ``connected_components_incremental`` — star edges from the old
    labels ∪ the delta, NEVER the historical edges again. The ORACLE is
    the full-recompute cluster rollup (identical SQL to
    dedup_clusters_lsh's oracle), so the hash-match proves
    batch-incremental == full — per batch the engine pays
    O(label table + delta), the property that keeps a 100 TB dedup
    graph maintainable as the corpus appends.

    A bridge case is live on this corpus: new-batch edges connect
    previously separate old components, so the gate exercises label
    REASSIGNMENT of old nodes, not just extension.

    NOTE the gate recomputes the base labeling live only to PROVE the
    equivalence inside one query; in production the base labels are
    the previous batch's persisted output (the same load-first
    artifact discipline as the LSH edge list and the IVF index), so a
    real batch pays only the star-union CC."""
    from ..operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    pairs = _lsh_edges(spark, sf_dir)
    is_new_a = F.col("doc_a") % 5 == 0
    is_new_b = F.col("doc_b") % 5 == 0
    old_edges = pairs.filter(~is_new_a & ~is_new_b)
    delta_edges = pairs.filter(is_new_a | is_new_b)
    # input_materialized on BOTH CC passes: the old/delta frames are
    # column filters over the load-first artifact parquet, and the
    # incremental pass unions the base labels (themselves a CC
    # round-trip read) with that same filtered artifact — all cheap
    # short-lineage plans the up-front edge round-trip exists to
    # protect against re-running, which re-scanning does not here
    base = connected_components(
        old_edges, "doc_a", "doc_b", symmetrize=True, input_materialized=True
    )
    labels = connected_components_incremental(
        base, delta_edges, "doc_a", "doc_b", input_materialized=True
    )
    out = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keeper_doc_id"),
    )
    return out.select(
        F.col("label").alias("cluster_id"), "cluster_size", "keeper_doc_id"
    )


EXT_QUERIES["dedup_clusters_incremental"] = q_dedup_clusters_incremental
EXT_ORACLES["dedup_clusters_incremental"] = ORACLE_DEDUP_CLUSTERS_LSH


FRAME_STRIDE, FRAME_LEN = 256, 64  # one 64-char frame every 256 chars


def _sample_frames(doc_id, payload: bytes):
    text = payload.decode("utf-8")  # the "decode" stage
    frames = enumerate(range(0, len(text), FRAME_STRIDE))
    return [
        (doc_id, i, off, hashlib.md5(text[off : off + FRAME_LEN].encode()).hexdigest())
        for i, off in frames
    ]


def q_multimodal_frame_sample(spark, sf_dir):
    """Multimodal FRAME SAMPLING plumbing: the binary payload is
    "decoded" (here: utf-8 — the deterministic stand-in for a video
    codec; real byte-level decode is proven by
    ``multimodal_decode_bmp``/``_wav``) inside an Arrow-batched
    mapInPandas, then fixed-stride frames are sampled and fingerprinted
    — one output row per frame (row-multiplying UDF output, the shape a
    real frame sampler has). Stride 256 / frame 64; per-frame md5 lets
    the oracle validate every sampled window byte-for-byte. At 100 TB
    the payload column stays off-heap in Arrow batches; only frame
    metadata + digests leave the UDF."""
    return _payload_rows(
        _utf8_payloads(spark, sf_dir),
        _sample_frames,
        "doc_id long, frame_idx long, frame_off long, frame_md5 string",
    )


ORACLE_MULTIMODAL_FRAME_SAMPLE = """
WITH p AS (
  SELECT doc_id, text, length(text)::BIGINT AS n FROM documents
),
f AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS frame_idx
  FROM p
)
SELECT doc_id,
       frame_idx,
       frame_idx * 256 AS frame_off,
       md5(substr(text, CAST(frame_idx * 256 + 1 AS BIGINT), 64)) AS frame_md5
FROM f
"""

EXT_QUERIES["multimodal_frame_sample"] = q_multimodal_frame_sample
EXT_ORACLES["multimodal_frame_sample"] = ORACLE_MULTIMODAL_FRAME_SAMPLE


def q_embedding_quantize(spark, sf_dir):
    """Vector COMPRESSION for the embedding column: symmetric int8
    quantization per vector (scale = max|x| / 127, code = floor(x/scale
    + 0.5)) with the reconstruction L1 error reported per vector — the
    storage-reduction pass a 100 TB embedding corpus runs before
    indexing (4 bytes/dim → 1). Pure array arithmetic: transform +
    aggregate folds, JVM codegen end to end, no UDF, no shuffle (the
    output is row-local). floor(x+0.5) not round(): both engines define
    floor identically, while their round() half-case conventions
    differ."""
    e = _vectors(spark, sf_dir, "vec_id", "v", "vn").drop("label")
    absmax = F.aggregate(
        F.transform(F.col("v"), lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    e = e.select("vec_id", "v", absmax.alias("am")).filter(F.col("am") > 0)
    scale = F.col("am") / F.lit(127.0)
    codes = F.transform(F.col("v"), lambda x: F.floor(x / scale + F.lit(0.5)))
    recon_l1 = F.aggregate(
        F.zip_with(F.col("v"), codes, lambda x, c: F.abs(x - c * scale)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return e.select(
        "vec_id",
        F.round(scale, 9).alias("q_scale"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda acc, c: acc + c).alias(
            "code_sum"
        ),
        F.round(recon_l1, 6).alias("recon_l1"),
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS q_scale_raw
  FROM e
  WHERE list_max(list_transform(v, x -> abs(x))) > 0
)
SELECT vec_id,
       round(q_scale_raw, 9) AS q_scale,
       CAST(list_sum(list_transform(v, x -> floor(x / q_scale_raw + 0.5))) AS BIGINT) AS code_sum,
       round(list_sum(list_transform(v, x -> abs(x - floor(x / q_scale_raw + 0.5) * q_scale_raw))), 6) AS recon_l1
FROM s
"""

EXT_QUERIES["embedding_quantize"] = q_embedding_quantize
EXT_ORACLES["embedding_quantize"] = ORACLE_EMBEDDING_QUANTIZE


# ---------------------------------------------------------------------------
# Round 6: corpus relevance scoring (TF-IDF / BM25), passage-level exact
# dedup, containment dedup, and the applyInPandasWithState custom
# stateful-streaming operator.
# ---------------------------------------------------------------------------


def q_tfidf_top_terms(spark, sf_dir):
    """Corpus RELEVANCE model v1: top-3 TF-IDF terms per document —
    the classic keyword-extraction pass of a text curation pipeline
    (reference analogue: the per-wallet "most important protocol"
    rollups, e.g. src/pipelines/features/transformations/
    view_defi_borrow_features.sql's per-category aggregates).

    Plan: explode tokens → per-(doc,term) counts → per-term doc
    frequency (an aggregate OF the tf aggregate, so the exploded corpus
    is scanned once) → join + window top-3. Corpus size enters as a
    scalar subquery (literal at plan time, no 1-row join). Ranking uses
    the ROUNDED score so cross-engine float ULPs cannot flip the
    boundary, with the term string as the total tie-break.

    100 TB notes: both aggregates shuffle on bounded keys (term
    vocabulary); the tf→df aggregate is map-side combinable. The
    per-doc window partitions by doc_id — no global sort. The df join
    has unbounded vocabulary, so the strategy is left to AQE (same
    reasoning as token_rarity_score)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode_outer("__toks").alias("t"))
        .filter(F.col("t").isNotNull())
    )
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = tf.join(dfreq, "t").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(n.scalar() / F.col("df")), 6)
    )
    order = [F.col("tfidf").desc(), F.col("t").asc()]
    return top_k_per_group(scored, "doc_id", order, 3, "__rnk").select(
        "doc_id", F.col("t").alias("term"), "tfidf"
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH toks AS (SELECT doc_id, unnest({TOKENS_DUCK}) AS t FROM documents),
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (SELECT doc_id, t, round(tf * ln(n.n / df), 6) AS tfidf
           FROM tf JOIN dfreq USING (t) CROSS JOIN n),
ranked AS (SELECT doc_id, t, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, t ASC) AS rnk
           FROM scored)
SELECT doc_id, t AS term, tfidf FROM ranked WHERE rnk <= 3
"""

EXT_QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
EXT_ORACLES["tfidf_top_terms"] = ORACLE_TFIDF_TOP_TERMS


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("table", "join", "hash")
BM25_TOP_N = 20


def q_bm25_search(spark, sf_dir):
    """Corpus RELEVANCE model v2: Okapi BM25 retrieval for a fixed
    3-term query, top-20 documents. The retrieval primitive of a
    dedup-then-retrieve training-data loop (and of search-quality
    filtering).

    Plan: one exploded-token pass feeds BOTH the per-doc length
    aggregate and the per-(doc,term) tf aggregate (the latter after a
    broadcast semi-join against the 3-row query-term table — the scan
    prunes to query terms before any shuffle). N and avgdl enter as
    scalar subqueries. Per-term partial scores are summed through
    decimal(38,10) so the 3-float addition order cannot perturb the
    rounded result; final ORDER BY uses the rounded score with doc_id
    as the total tie-break.

    100 TB notes (single-pass form, r12): ONE exploded-token pass
    builds the per-doc sidecar (dl + one tf column per query term —
    the query is a fixed 3-term literal, so per-term tf is a
    conditional count in the SAME groupBy instead of a second
    aggregate behind a semi-join). The pre-r12 shape re-ran the
    tokenize+explode FOUR times (tf on both sides of the dfreq join,
    dl in the score join and again under the avgdl scalar — zero
    exchange reuse, plans/r12/bm25_search_before.txt); the sidecar is
    eager-cut once and everything downstream reads it. avgdl / df /
    N are three scalars collected from one cached aggregate — bounded
    driver metadata (the grouped_rank pattern); they re-enter the
    score expression as literals with the SAME types and operation
    order as the old scalar subqueries, and idf/log still evaluate
    INSIDE Spark, so every double is bit-identical to the oracle's.
    The top-20 is a TakeOrdered (per-partition heap + driver merge),
    never a global sort."""
    d, wide = _bm25_doc_stats(spark, sf_dir)
    return _bm25_ranking(d, wide)


def _bm25_doc_stats(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(documents frame, per-doc BM25 sidecar): ``wide`` is
    (doc_id, dl, tf0..tf{k-1}) over docs with >= 1 token, built in ONE
    tokenize pass + ONE doc-keyed shuffle and eager-cut (it feeds the
    stats collect, the scoring scan, and — in retrieval_ndcg — the
    relevance grades). Per-doc narrow rows: the standard doc-length
    sidecar a BM25 deployment materializes anyway."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode_outer("__toks").alias("t"))
        .filter(F.col("t").isNotNull())
    )
    wide = (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum((F.col("t") == F.lit(t)).cast("long")).alias(f"tf{i}")
                for i, t in enumerate(BM25_QUERY_TERMS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    return d, wide


def _bm25_ranking(d: DataFrame, wide: DataFrame) -> DataFrame:
    """Top-{n} (doc_id, bm25) from the per-doc sidecar — the scoring
    arithmetic, operand types and decimal summation are the pre-r12
    expressions verbatim; only WHERE the df/avgdl/N scalars come from
    changed (driver literals off one cached aggregate instead of
    scalar subqueries over recomputed token passes)."""
    from .core import DEC

    k = len(BM25_QUERY_TERMS)
    stats = wide.agg(
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(k)
        ],
    ).first()
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n")).first()["n"]
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl") / F.lit(float(stats["avgdl"]))
    )
    parts = []
    for i in range(k):
        # df enters as a LONG literal and n as a DOUBLE literal — the
        # exact operand types of the old (count-subquery, cast-double)
        # pair, so promotion order and every libm input are unchanged
        df_i = F.lit(int(stats[f"df{i}"]))
        idf = F.log(
            F.lit(1.0) + (F.lit(n_docs) - df_i + F.lit(0.5)) / (df_i + F.lit(0.5))
        )
        tf = F.col(f"tf{i}")
        part = idf * (tf * F.lit(BM25_K1 + 1.0)) / (tf + norm)
        # absent term contributed NO row before; an exact decimal zero
        # in the sum is the same value
        parts.append(
            F.when(tf > 0, part.cast(DEC)).otherwise(F.lit(0).cast(DEC))
        )
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return (
        wide.filter(
            F.greatest(*[F.col(f"tf{i}") for i in range(k)]) > 0
        )
        .select("doc_id", F.round(total.cast("double"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_N)
    )


ORACLE_BM25_SEARCH = f"""
WITH toks AS (SELECT doc_id, unnest({TOKENS_DUCK}) AS t FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 (SELECT avg(dl) FROM dl) AS avgdl
          FROM documents),
qt AS (SELECT unnest({list(BM25_QUERY_TERMS)}) AS t),
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks JOIN qt USING (t) GROUP BY 1, 2),
dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
parts AS (
  SELECT tf.doc_id,
         CAST(ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) *
              (tf * {BM25_K1 + 1.0}) /
              (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
              AS DECIMAL(38,10)) AS sc
  FROM tf JOIN dfreq USING (t) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats)
SELECT doc_id, round(CAST(CAST(sum(sc) AS VARCHAR) AS DOUBLE), 6) AS bm25
FROM parts GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOP_N}
"""

EXT_QUERIES["bm25_search"] = q_bm25_search
EXT_ORACLES["bm25_search"] = ORACLE_BM25_SEARCH


PASSAGE_TOKENS = 8

# non-overlapping 8-token passages of the token array (Spark slice is
# 1-based; the CASE guard keeps sequence() from producing a descending
# [0,-1] range on short docs — same trick as SHINGLES_SPARK)
PASSAGES_SPARK = (
    f"CASE WHEN size(__toks) >= {PASSAGE_TOKENS} THEN "
    f"transform(sequence(0, size(__toks) div {PASSAGE_TOKENS} - 1), "
    f"j -> concat_ws(' ', slice(__toks, j*{PASSAGE_TOKENS}+1, {PASSAGE_TOKENS}))) "
    "ELSE array() END"
)
PASSAGES_DUCK = (
    f"CASE WHEN len(__toks) >= {PASSAGE_TOKENS} THEN "
    f"[array_to_string(list_slice(__toks, j*{PASSAGE_TOKENS}+1, "
    f"j*{PASSAGE_TOKENS}+{PASSAGE_TOKENS}), ' ') "
    f"FOR j IN range(0, len(__toks)//{PASSAGE_TOKENS})] "
    "ELSE [] END"
)


def q_dedup_passage_exact(spark, sf_dir):
    """PASSAGE-level exact dedup (the scalable stand-in for
    suffix-array substring dedup à la Gopher/The-Pile): chop each
    document into non-overlapping 8-token passages, hash each passage,
    and report per document how many of its passages also occur
    elsewhere in the corpus (>= 2 total occurrences). Downstream, a
    curation pass drops or rewrites high-dup_ratio documents —
    boilerplate, licenses, templated spam.

    Plan: explode passages → global occurrence count (shuffle on the
    passage hash — the only wide exchange, map-side combinable) → join
    back → per-doc rollup. Linear in corpus tokens; the passage hash
    is the portable md5-prefix BIGINT, so 8 bytes per passage move
    through the shuffle, never the text."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    p = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .withColumn("__p", F.expr(PASSAGES_SPARK))
        .select("doc_id", F.explode_outer("__p").alias("passage"))
        .filter(F.col("passage").isNotNull())
    )
    h = p.select("doc_id", _h(F.col("passage")).alias("ph"))
    g = h.groupBy("ph").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.count(F.when(F.col("cnt") >= 2, True))
    return (
        h.join(g, "ph")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            dup.alias("n_dup_passages"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias("dup_ratio"),
        )
    )


ORACLE_DEDUP_PASSAGE_EXACT = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
p AS (SELECT doc_id, unnest({PASSAGES_DUCK}) AS passage FROM toks),
h AS (SELECT doc_id, {H_SQL.format(x='passage')} AS ph FROM p),
g AS (SELECT ph, count(*) AS cnt FROM h GROUP BY 1)
SELECT doc_id, count(*) AS n_passages,
       count(*) FILTER (WHERE cnt >= 2) AS n_dup_passages,
       round(CAST(count(*) FILTER (WHERE cnt >= 2) AS DOUBLE) / count(*), 6)
         AS dup_ratio
FROM h JOIN g USING (ph) GROUP BY doc_id
"""

EXT_QUERIES["dedup_passage_exact"] = q_dedup_passage_exact
EXT_ORACLES["dedup_passage_exact"] = ORACLE_DEDUP_PASSAGE_EXACT


CONTAINMENT_THRESHOLD = 0.5
CONTAINMENT_DF_CAP = 100


def q_dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| >= 0.5 for
    ordered doc pairs — catches a document quoted or templated INSIDE a
    larger one, which symmetric Jaccard misses (|A∩B|/|A∪B| shrinks as
    the host document grows). The standard complement to MinHash in a
    text-dedup stack (containment sketches / "is this doc a subset").

    Scale guard: shingles occurring in > {CONTAINMENT_DF_CAP} documents
    are dropped from BOTH the intersection and the denominator
    ("informative shingles" only) — at corpus scale the df cap bounds
    the equi-join fan-out per shingle (stop-shingles would otherwise
    pair everything with everything); the same rule runs in the oracle,
    so the gate pins the capped semantics. At sf0.01 max shingle df is
    7, so the cap is a no-op on the test corpus.

    Plan: distinct (doc, shingle) → df aggregate → cap filter →
    self-equi-join on the shingle → per-ordered-pair count → divide by
    |A|. Every join is an equi-join on the shingle or doc key; no
    quadratic shape anywhere."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    sh = doc_shingles_df(spark, d)
    g = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        sh.join(g, "s").filter(F.col("df") <= CONTAINMENT_DF_CAP).select("doc_id", "s")
        # NOT materialized, deliberately (r12 optimization round): the
        # executed plan does run six tokenize→shingle pipelines (three
        # consumers × the two sh subtrees in this join), but an eager
        # cut here was MEASURED SLOWER (1.9 → 3.1 s median at sf0.1):
        # unlike dedup_lsh_verified's candidate-bounded frame, ``kept``
        # is nearly the FULL shingle table (the df cap is a no-op on
        # this corpus), and serializing it once costs more than five
        # extra parallel tokenize passes. Same verdict as the postings
        # persist experiment in _blocks_from_postings.
    )
    sz = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = kept.select(F.col("doc_id").alias("id_a"), "s")
    b = kept.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(sz.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumn(
            "containment", F.round(F.col("c").cast("double") / F.col("n"), 6)
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("id_a", "id_b", "containment")
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM toks),
g AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
kept AS (SELECT doc_id, s FROM sh JOIN g USING (s)
         WHERE df <= {CONTAINMENT_DF_CAP}),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b, round(CAST(c AS DOUBLE) / sz.n, 6) AS containment
FROM inter JOIN sz ON sz.doc_id = inter.id_a
WHERE round(CAST(c AS DOUBLE) / sz.n, 6) >= {CONTAINMENT_THRESHOLD}
"""

EXT_QUERIES["dedup_containment"] = q_dedup_containment
EXT_ORACLES["dedup_containment"] = ORACLE_DEDUP_CONTAINMENT


def q_streaming_stateful_counter(spark, sf_dir):
    """§2.9 CUSTOM STATEFUL operator via ``applyInPandasWithState`` —
    the escape hatch for stateful logic Spark's built-in streaming
    operators can't express (reference analogue: the per-wallet
    running extraction state the pipeline keeps between daily runs).
    Per user, the state is (event count, latest event epoch); each
    micro-batch folds its Arrow batches into the state and emits the
    updated row. Counts and a max over integers only — every state
    transition is order-independent and exact, so the bounded-input
    result is held to the same DuckDB hash gate as the batch suite.

    The final ``groupBy(max)`` collapses per-batch update rows from the
    memory sink: n_events is monotone per key, so max = the final
    state under ANY micro-batching of the input (1 batch or 50).

    100 TB notes: state lives in the per-partition state store (RocksDB
    at scale), keyed by the shuffle hash of user_id; Arrow moves
    batches to Python. NoTimeout because the gate input is bounded —
    production would set an event-time timeout to expire idle keys."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _stream_table(spark, sf_dir, "events", "streaming_stateful_counter").select(
        "user_id", F.col("ts").cast("long").alias("ts_s")
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            n, mx = state.get
        else:
            n, mx = 0, None
        for pdf in pdf_iter:
            n += len(pdf)
            m = int(pdf["ts_s"].max())
            mx = m if mx is None or m > mx else mx
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_ts": [mx]}
        )

    res = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n_events bigint, last_ts bigint",
        stateStructType="n bigint, mx bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        _run_stream(res, "update")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("last_ts").alias("last_ts"))
    )


ORACLE_STREAMING_STATEFUL_COUNTER = f"""
SELECT user_id, count(*) AS n_events, max({_epoch_sql()}) AS last_ts
FROM events GROUP BY user_id
"""

EXT_QUERIES["streaming_stateful_counter"] = q_streaming_stateful_counter
EXT_ORACLES["streaming_stateful_counter"] = ORACLE_STREAMING_STATEFUL_COUNTER


def q_streaming_dedup_watermarked(spark, sf_dir):
    """§2.9 BOUNDED-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` — unlike plain ``dropDuplicates``
    (state grows forever), dedup state for a key is dropped once the
    watermark passes its last-seen event time, so state size is
    bounded by the watermark horizon — the only dedup Spark can run
    forever on an unbounded stream. Within one watermark horizon the
    semantics equal DISTINCT; the gate input (30-day bounded table,
    1 h watermark, single availableNow batch) sits entirely inside
    that window, so the result is DISTINCT — hash-gated like every
    batch query. Output restricted to the dedup key so which physical
    row survived is invisible."""
    ev = _stream_table(spark, sf_dir, "events", "streaming_dedup_watermarked")
    dedup = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_stream(dedup, "append")


ORACLE_STREAMING_DEDUP_WATERMARKED = """
SELECT DISTINCT user_id, event_type FROM events
"""

EXT_QUERIES["streaming_dedup_watermarked"] = q_streaming_dedup_watermarked
EXT_ORACLES["streaming_dedup_watermarked"] = ORACLE_STREAMING_DEDUP_WATERMARKED


def q_streaming_foreachbatch_upsert(spark, sf_dir):
    """§2.9 ∘ S10 INTEGRATION: streaming ``foreachBatch`` upsert into
    the manifest-committed serving store — the reference's
    stream-to-MongoDB topology (save_defi_features_features_db.py:28-34)
    on the engine's own sink. Each micro-batch reduces to its latest
    row per user, merges NEWER-WINS against the committed store rows
    for those keys (so out-of-order micro-batches cannot regress a
    key — batch-order invariant by construction), and publishes
    through ``upsert_manifested`` (no reader-visible absent window).
    Final store state = latest event per user — SQL-expressible and
    hash-gated like every batch query.

    100 TB notes: per-batch work is a key-partitioned window + a
    semi-join against the store limited to the batch's keys; the
    manifest commit is one marker create. On a Delta/Iceberg cluster
    the merge body becomes a single MERGE INTO."""
    from ..sources.fsutil import manifest_resolve, read_manifested, scratch_dir
    from ..sources.sinks import upsert_manifested

    gate = "streaming_foreachbatch_upsert"
    scratch = scratch_dir(gate)
    ev = _stream_table(spark, sf_dir, "events", gate, root=scratch).select(
        "user_id",
        F.col("ts").cast("long").alias("last_ts"),
        "event_type",
        "event_id",
        "value",
    )
    root = os.path.join(scratch, "serving")
    order = [F.col("last_ts").desc(), F.col("event_id").desc()]

    def merge_newer(batch_df, _batch_id):
        latest = top_k_per_group(batch_df, "user_id", order, 1, "__rn")
        if manifest_resolve(spark, root) is not None:
            prev = read_manifested(spark, root).join(
                latest.select("user_id"), "user_id", "semi"
            )
            latest = top_k_per_group(
                prev.unionByName(latest), "user_id", order, 1, "__rn"
            )
        upsert_manifested(spark, latest, root, "user_id")

    q = (
        ev.writeStream.foreachBatch(timed_foreach(gate, merge_newer))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_manifested(spark, root).select(
        "user_id", "last_ts", "event_type", "event_id", "value"
    )


ORACLE_STREAMING_FOREACHBATCH_UPSERT = f"""
SELECT user_id, t AS last_ts, event_type, event_id, value FROM (
  SELECT user_id, {_epoch_sql()} AS t, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY {_epoch_sql()} DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

EXT_QUERIES["streaming_foreachbatch_upsert"] = q_streaming_foreachbatch_upsert
EXT_ORACLES["streaming_foreachbatch_upsert"] = ORACLE_STREAMING_FOREACHBATCH_UPSERT


def q_dedup_keep_best(spark, sf_dir):
    """CANONICAL-DOC ELECTION — the dedup output a curation pipeline
    actually ships: the keep list after near-dup clustering, electing
    per cluster the HIGHEST-QUALITY member (max n_chars, tie → min
    doc_id) instead of the arbitrary min-id keeper. Docs in no cluster
    keep themselves ('singleton'); one 'keeper' survives per cluster.
    Keep-best is the real-world policy (longest / highest-scoring copy
    wins — boilerplate fragments lose to the full document).

    Plan: LSH-verified pairs → connected components (the shipping
    near-dup clustering; loaded from the fingerprint-fresh
    ``lsh_cc_labels`` artifact — ``dedup_clusters_lsh`` keeps the live
    CC gate, this consumer needs only the result) → per-label argmax
    via one window over the member list joined to the doc metadata →
    anti-join for the untouched singletons. Everything keys on doc_id
    or the cluster label; no new wide shapes beyond the CC engine's."""
    labels = _lsh_cc_labels(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(d, labels.node == d.doc_id).select(
        "label", "doc_id", "n_chars"
    )
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    keepers = top_k_per_group(members, "label", order, 1, "__rn").select(
        "doc_id", F.lit("keeper").alias("reason")
    )
    singletons = d.join(
        labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.lit("singleton").alias("reason"))
    return keepers.unionByName(singletons)


ORACLE_DEDUP_KEEP_BEST = f"""
WITH {{lsh_ctes}},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT walk.src, e.b FROM walk JOIN edges e ON walk.dst = e.a
  )
  SELECT src, dst FROM walk
),
labels AS (
  SELECT n.node, least(n.node, min(tc.dst)) AS label
  FROM nodes n LEFT JOIN tc ON tc.src = n.node
  GROUP BY n.node
),
members AS (
  SELECT l.label, l.node AS doc_id, d.n_chars
  FROM labels l JOIN documents d ON d.doc_id = l.node
),
keepers AS (
  SELECT doc_id, 'keeper' AS reason FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY label
           ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM members
  ) WHERE rn = 1
)
SELECT doc_id, reason FROM keepers
UNION ALL
SELECT d.doc_id, 'singleton' AS reason
FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM nodes)
"""

EXT_QUERIES["dedup_keep_best"] = q_dedup_keep_best
EXT_ORACLES["dedup_keep_best"] = ORACLE_DEDUP_KEEP_BEST.format(lsh_ctes=_lsh_ctes())


# canonical verified-pair CTE block shared by the graph-analytics oracles
_VERIFIED_CTES = """sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= {thr}
)"""


def q_graph_triangle_count(spark, sf_dir):
    """TRIANGLE COUNT on the near-dup graph: per node, the number of
    triangles it participates in — the local-clustering signal that
    separates a true duplicate CLUSTER (dense, many triangles) from a
    chain of borderline pairs (no triangles), which curation uses to
    pick merge-aggressiveness. Canonical-pair edges (doc_a < doc_b)
    make each triangle counted exactly once as a < b < c.

    Plan: two self-equi-joins of the verified pair list (wedge build
    a-b-c on the shared middle, then closure check against the a-c
    edge) — the standard distributed triangle enumeration; with
    canonical ordering the wedge fan-out is bounded by the
    out-degree, not the full degree."""
    e = _lsh_edges(spark, sf_dir)
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    members = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return members.groupBy(F.col("node").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


ORACLE_GRAPH_TRIANGLE_COUNT = f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM verified e1
  JOIN verified e2 ON e2.doc_a = e1.doc_b
  JOIN verified e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
members AS (
  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
)
SELECT node AS doc_id, count(*) AS n_triangles FROM members GROUP BY node
"""

EXT_QUERIES["graph_triangle_count"] = q_graph_triangle_count
EXT_ORACLES["graph_triangle_count"] = ORACLE_GRAPH_TRIANGLE_COUNT.format(
    lsh=_lsh_ctes()
)


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def q_graph_pagerank(spark, sf_dir):
    """PAGERANK (5 fixed iterations, d=0.85) over the symmetric
    near-dup graph — ranks the most-connected documents inside dup
    neighborhoods (the doc every near-copy points at is the natural
    canonical pick). A second ITERATIVE graph algorithm beside
    connected components, held to an EXACT SQL oracle: per-iteration
    neighbor sums go through decimal(38,15) so accumulation order
    cannot perturb the double result, making five unrolled iterations
    bit-reproducible cross-engine.

    Plan: edges+degrees materialize once (eager localCheckpoint — the
    candidate-generation plan must not replay per iteration); each
    iteration is one equi-join + keyed aggregate. Fixed iteration
    count → no convergence action. At 100 TB each iteration would
    parquet-round-trip like connected_components (same lineage
    reasoning); 5 lazy levels are fine at gate scale."""
    pairs = _lsh_edges(spark, sf_dir)
    ed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    n = deg.count()  # bounded driver metadata: dup-graph node count
    edl = ed.join(deg.withColumnRenamed("node", "src"), "src")
    r = deg.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    for _ in range(PAGERANK_ITERS):
        contrib = edl.join(r, edl.src == r.node).select(
            "dst", (F.col("r") / F.col("deg")).alias("c")
        )
        r = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(0.15 / n)
                + F.lit(PAGERANK_DAMPING)
                * F.sum(F.col("c").cast("decimal(38,15)")).cast("double")
            ).alias("r")
        )
    return r.select(F.col("node").alias("doc_id"), F.round("r", 6).alias("pagerank"))


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         0.15 / nn.n + {PAGERANK_DAMPING} *
           CAST(CAST(SUM(CAST({prev}.r / deg.deg AS DECIMAL(38,15))) AS VARCHAR) AS DOUBLE) AS r
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN deg ON deg.node = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n
)"""
        )
        prev = f"r{i}"
    return f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          UNION ALL SELECT doc_b, doc_a FROM verified),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM deg CROSS JOIN nn),
{','.join(iters)}
SELECT node AS doc_id, round(r, 6) AS pagerank FROM {prev}
"""


EXT_QUERIES["graph_pagerank"] = q_graph_pagerank
EXT_ORACLES["graph_pagerank"] = _pagerank_oracle().format(lsh=_lsh_ctes())


def q_streaming_hopping_counts(spark, sf_dir):
    """§2.9 streaming HOPPING windows: the sliding-window stateful
    aggregate (2 h windows advancing every 30 min — each event updates
    4 window states) under Trigger.AvailableNow, complete mode. The
    streaming twin of the batch ``hopping_window_counts`` gate, held to
    the same DuckDB oracle — pinning that the window family behaves
    identically in batch and streaming (same F.window call, same
    semantics). Watermark bounds state: windows older than
    watermark - slide finalize and drop."""
    from .core import DEC

    ev = _stream_table(spark, sf_dir, "events", "streaming_hopping_counts")
    ev = ev.withColumn("ts", F.col("ts").cast("long").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    return _run_stream(agg, "complete").select(
        F.col("w.start").cast("long").alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


ORACLE_STREAMING_HOPPING_COUNTS = """
WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t, event_type, value FROM events),
w AS (
  SELECT t, event_type, value,
         unnest([ (t // 1800) * 1800 - o FOR o IN [0, 1800, 3600, 5400] ])
           AS win_start
  FROM e
)
SELECT win_start, event_type, count(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM w
WHERE t >= win_start AND t < win_start + 7200
GROUP BY 1, 2
"""

EXT_QUERIES["streaming_hopping_counts"] = q_streaming_hopping_counts
EXT_ORACLES["streaming_hopping_counts"] = ORACLE_STREAMING_HOPPING_COUNTS


# ---------------------------------------------------------------------------
# Round 6, phase 3: scan-pruning bloom-style prefilter, vocabulary build,
# entity-resolution blocking, deterministic correlation matrix, and a
# window-rewrite Pareto frontier.
# ---------------------------------------------------------------------------

BLOOM_BUCKETS = 1 << 17  # prefilter domain: 128k buckets, ~1 MB broadcast max


def q_bloom_prune_join(spark, sf_dir):
    """Bloom-style SCAN PRUNE ahead of a selective fact⋈dim join — the
    runtime-row-filter pattern (Spark's own
    spark.sql.optimizer.runtime.bloomFilter injects the same shape) made
    explicit: hash the filtered dim's keys into a bounded bucket domain,
    broadcast the distinct bucket set, and LEFT SEMI the fact on its
    key's bucket BEFORE the real join. The prefilter is lossy-inclusive
    (false positives only), so the exact equi-join after it returns
    byte-identical results — which is exactly what the oracle pins (the
    oracle is the plain join; the prefilter must be invisible).

    100 TB notes: the bucket set is ≤ BLOOM_BUCKETS longs regardless of
    dim size (a set-representation Bloom filter with k=1); it broadcasts
    once and the fact-side probe is a map-side hash lookup fused into
    the scan stage — no shuffle of pruned rows, the dominant cost at
    scale. The residual join then shuffles only survivors. Reference
    analogue: the dim-filtered fact joins of
    src/pipelines/features/transformations/view_defi_borrow_features.sql."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == F.lit("BUILDING")
    )
    orders = _t(spark, sf_dir, "orders")
    buckets = cust.select(
        F.pmod(F.xxhash64(F.col("c_custkey")), F.lit(BLOOM_BUCKETS)).alias("__b")
    ).distinct()
    pruned = orders.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64(F.col("o_custkey")), F.lit(BLOOM_BUCKETS)) == F.col("__b"),
        "leftsemi",
    )
    j = pruned.join(cust, F.col("o_custkey") == F.col("c_custkey"))
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
        .cast("double")
        .alias("revenue"),
    )


ORACLE_BLOOM_PRUNE_JOIN = """
SELECT c_nationkey, count(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1
"""

EXT_QUERIES["bloom_prune_join"] = q_bloom_prune_join
EXT_ORACLES["bloom_prune_join"] = ORACLE_BLOOM_PRUNE_JOIN


BIGRAMS_SPARK = (
    "CASE WHEN size(__toks) >= 2 THEN "
    "transform(sequence(0, size(__toks) - 2), "
    "i -> concat_ws(' ', __toks[i], __toks[i+1])) "
    "ELSE array() END"
)
BIGRAMS_DUCK = (
    "CASE WHEN len(__toks) >= 2 THEN "
    "[__toks[i] || ' ' || __toks[i+1] FOR i IN range(1, len(__toks))] "
    "ELSE [] END"
)
VOCAB_MIN_COUNT = 5


def q_bigram_vocab(spark, sf_dir):
    """Corpus VOCABULARY build over word bigrams — the tokenizer-prep
    pass of an LLM data pipeline (count every n-gram, keep those above
    a min-count threshold, record document frequency alongside corpus
    frequency). Occurrences are counted with multiplicity (a bigram
    twice in one doc counts twice); n_docs counts distinct docs via a
    conditional distinct-key aggregate, not a second scan.

    100 TB notes: one exploded scan → one groupBy(bigram) with map-side
    partial aggregation; the min-count HAVING prunes the long tail
    before anything leaves the aggregate. Vocabulary keys are
    heavy-hitter-skewed, which partial aggregation absorbs (the hot
    bigram is pre-summed per task before the exchange)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    grams = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode_outer(F.expr(BIGRAMS_SPARK)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return (
        grams.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
        )
        .filter(F.col("n_occ") >= VOCAB_MIN_COUNT)
        .select(F.col("g").alias("bigram"), "n_occ", "n_docs")
    )


ORACLE_BIGRAM_VOCAB = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents),
grams AS (SELECT doc_id, unnest({BIGRAMS_DUCK}) AS g FROM toks)
SELECT g AS bigram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
FROM grams
GROUP BY 1
HAVING count(*) >= {VOCAB_MIN_COUNT}
"""

EXT_QUERIES["bigram_vocab"] = q_bigram_vocab
EXT_ORACLES["bigram_vocab"] = ORACLE_BIGRAM_VOCAB


ENTITY_MAX_EDIT = 1


def q_entity_match_pairs(spark, sf_dir):
    """ENTITY RESOLUTION candidate pass: blocking + pairwise edit
    distance. Customers are blocked on (c_nationkey, c_mktsegment) — the
    classic cheap-attribute blocking key — and only within-block pairs
    pay the Levenshtein comparison; pairs at distance ≤ ENTITY_MAX_EDIT
    survive. Ordered pairs (left < right) so each match appears once.

    100 TB notes: the self-join is an equi-join on the block key (no
    cartesian; the plan sweep enforces it), so cost is Σ block² not n² —
    bounded by the blocking design, the standard ER trade-off. One side
    is repartitioned ON THE JOIN KEYS with an explicit partition count:
    the join work is QUADRATIC per block while the shuffled bytes are
    tiny, so AQE's byte-fed coalescing otherwise folds the whole
    comparison stage onto ONE task (r8 regression, 9.8×: measured 3.1 s
    coalesced vs 0.9 s pinned at sf0.1 — the user-specified shuffle is
    exempt from coalescing and replaces the join's own exchange, so the
    pin costs nothing). The Levenshtein is the THRESHOLD-BOUNDED 3-arg
    variant — A/B-measured ~2× the unbounded form at k=1 (median 3.41 s
    vs 6.57 s single-task at sf0.1; PLANS.md r9), confirming the r8
    docstring claim the verdict asked to re-measure. Runs JVM-side
    inside the join stage (codegen, no UDF). Skewed blocks would salt
    like salted_skew_join."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    # BOTH sides carry the user-specified repartition: with only one
    # side pinned, the planner still inserts its own exchange for the
    # other, and AQE's byte-fed coalescing of THAT exchange
    # intermittently re-collapsed the quadratic compare stage
    # (observed r10: alternating 1.1 s / 5.3 s runs in one session —
    # the r8 failure mode returning through the unpinned side). Two
    # user shuffles on the same keys co-partition exchange-free and
    # are both exempt from coalescing: deterministic 32-task compare.
    n_parts = spark.sparkContext.defaultParallelism
    a = c.repartition(n_parts, "c_nationkey", "c_mktsegment").alias("a")
    b = c.repartition(n_parts, "c_nationkey", "c_mktsegment").alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), ENTITY_MAX_EDIT),
        )
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.col("a.c_custkey").alias("left_id"),
            F.col("b.c_custkey").alias("right_id"),
            F.col("a.c_nationkey").alias("c_nationkey"),
            "edit_dist",
        )
    )


ORACLE_ENTITY_MATCH_PAIRS = f"""
SELECT a.c_custkey AS left_id, b.c_custkey AS right_id,
       a.c_nationkey AS c_nationkey,
       levenshtein(a.c_name, b.c_name) AS edit_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {ENTITY_MAX_EDIT}
"""

EXT_QUERIES["entity_match_pairs"] = q_entity_match_pairs
EXT_ORACLES["entity_match_pairs"] = ORACLE_ENTITY_MATCH_PAIRS


def q_feature_correlations(spark, sf_dir):
    """Deterministic PEARSON CORRELATION per group — the feature-audit
    pass a training pipeline runs before shipping a feature matrix
    (near-collinear features are dropped). F.corr is a float running
    aggregate whose result depends on partition merge order, so it can
    never hash-match a single-threaded oracle; instead the five moment
    sums (Σx, Σy, Σx², Σy², Σxy) are accumulated EXACTLY in
    decimal(38,10) — addition is associative there — and the closed-form
    corr = (nΣxy − ΣxΣy) / √((nΣx² − Σx²ₛ)(nΣy² − Σy²ₛ)) is evaluated
    once per group in IEEE doubles, bit-identical on any engine.

    100 TB notes: one scan, one map-side-combinable groupBy on a
    low-cardinality key; the decimal state is 5 numbers per group.
    This is how a distributed engine should compute ANY
    order-sensitive float statistic it wants reproducible. The scan is
    re-spread first: six wide-decimal sums per row dominate a 1-split
    input (measured 1.7 → 0.9 s at sf0.1); on a real multi-split table
    _spread is a no-op."""
    li = _spread(spark, _t(spark, sf_dir, "lineitem"))
    x = F.col("l_quantity").cast("decimal(38,10)")
    y = F.col("l_extendedprice").cast("decimal(38,10)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,10)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,10)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,10)")).cast("double").alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
    )


ORACLE_FEATURE_CORRELATIONS = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(38,10)) * CAST(l_quantity AS DECIMAL(38,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,10)) * CAST(l_extendedprice AS DECIMAL(38,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(38,10)) * CAST(l_extendedprice AS DECIMAL(38,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY 1
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS corr_qty_price
FROM m
"""

EXT_QUERIES["feature_correlations"] = q_feature_correlations
EXT_ORACLES["feature_correlations"] = ORACLE_FEATURE_CORRELATIONS


def q_pareto_frontier(spark, sf_dir):
    """PARETO FRONTIER (2-D skyline) of orders on (earlier date, higher
    total price): an order is on the frontier iff no strictly-earlier
    order priced ≥ it exists. Naively a quadratic NOT EXISTS theta-join;
    rewritten as ONE window pass — running max of price over a RANGE
    frame ending 1 day before the current row (RANGE, not ROWS, so
    same-day orders never dominate each other) — the same
    quadratic→window rewrite family as latest_event_per_user (J10).

    100 TB notes: the global window NEVER sees fact rows — max(price)
    is pre-aggregated per day (map-side combinable, |days| output rows),
    the running prior-day max is windowed over that tiny day table, and
    the day→prior_max map broadcasts back onto the facts. The only
    single-partition step is O(|days|), bounded by the calendar, not the
    data. Day arithmetic is epoch-based (UTC, see core._t)."""
    from ..operators.ranking import skyline_2d

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    return skyline_2d(o.withColumn("__d", day), "__d", "o_totalprice").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


ORACLE_PARETO_FRONTIER = """
WITH o AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS d
  FROM orders
),
w AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         max(o_totalprice) OVER (ORDER BY d
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
  FROM o
)
SELECT o_orderkey, o_orderdate, o_totalprice
FROM w
WHERE prior_max IS NULL OR o_totalprice > prior_max
"""

EXT_QUERIES["pareto_frontier"] = q_pareto_frontier
EXT_ORACLES["pareto_frontier"] = ORACLE_PARETO_FRONTIER


ROLLING_WINDOW_DAYS = 7


def q_rolling_active_users(spark, sf_dir):
    """ROLLING COUNT DISTINCT — weekly-active-users per day. A COUNT
    DISTINCT cannot live in a sliding window frame (distinct state
    doesn't merge across frame boundaries), so the scalable rewrite is
    contribution fan-out: dedup to (user, active-day) pairs, explode
    each pair to the ROLLING_WINDOW_DAYS window-END days it contributes
    to, and count distinct users per end day. Days with no events at
    all are not reported (inner-join against observed event days), so
    the output never manufactures calendar rows the input lacks.

    100 TB notes: the (user, day) dedup collapses the event volume to
    at most |users|×|days| rows BEFORE the constant 7× fan-out; both
    aggregates are map-side combinable and shuffle on bounded keys
    (day, then user×day). This exact shape is how engines without
    sliding-distinct support (most of them) compute WAU/MAU at scale."""
    from .core import _events

    ev = _events(spark, sf_dir)
    day = (F.col("ts").cast("long") / F.lit(86400)).cast("long")
    user_days = ev.select("user_id", day.alias("d")).distinct()
    observed = ev.select(day.alias("end_d")).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(ROLLING_WINDOW_DAYS - 1))
        ).alias("end_d"),
    )
    return (
        contrib.join(observed, "end_d")
        .groupBy("end_d")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(F.col("end_d").alias("day_num"), "n_active")
    )


ORACLE_ROLLING_ACTIVE_USERS = f"""
WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS d
  FROM events
),
user_days AS (SELECT DISTINCT user_id, d FROM e),
observed AS (SELECT DISTINCT d AS end_d FROM e),
contrib AS (
  SELECT user_id, unnest(range(d, d + {ROLLING_WINDOW_DAYS})) AS end_d
  FROM user_days
)
SELECT c.end_d AS day_num, count(DISTINCT c.user_id) AS n_active
FROM contrib c JOIN observed o ON c.end_d = o.end_d
GROUP BY 1
"""

EXT_QUERIES["rolling_active_users"] = q_rolling_active_users
EXT_ORACLES["rolling_active_users"] = ORACLE_ROLLING_ACTIVE_USERS


ZSCORE_THRESHOLD = 3.0


def q_outlier_zscore(spark, sf_dir):
    """Z-SCORE OUTLIER detection per group — the numeric data-cleaning
    pass of a training pipeline (drop rows k standard deviations from
    their group mean). Same determinism discipline as
    feature_correlations: moment sums Σx, Σx² accumulate exactly in
    decimal(38,10), and the score is ONE algebraic form with no
    intermediate μ/σ rounding —
        z = (n·x − Σx) / √(n·Σx² − Σx²ₛ)
    evaluated identically in both engines (the denominator is n·σ_pop,
    the numerator n·(x − μ), so the n's cancel exactly).

    100 TB notes: group stats are a map-side-combinable aggregate to
    |groups| rows, broadcast back onto the fact scan — the fact is
    read once and never shuffled. The filter keeps only outliers, so
    output is tiny; flipping the comparison yields the cleaned set."""
    from .core import _events

    ev = _events(spark, sf_dir)
    x = F.col("value").cast("decimal(38,10)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,10)")).cast("double").alias("sxx"),
    )
    z = (F.col("n") * F.col("value") - F.col("sx")) / F.sqrt(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("__z_raw", z)
        .filter(F.abs(F.col("__z_raw")) > F.lit(ZSCORE_THRESHOLD))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.col("__z_raw"), 6).alias("z"),
        )
    )


ORACLE_OUTLIER_ZSCORE = f"""
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(38,10)) * CAST(value AS DECIMAL(38,10)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM events
  GROUP BY 1
)
SELECT event_id, e.event_type, value,
       round((n * value - sx) / sqrt(n * sxx - sx * sx), 6) AS z
FROM events e JOIN m ON e.event_type = m.event_type
WHERE abs((n * value - sx) / sqrt(n * sxx - sx * sx)) > {ZSCORE_THRESHOLD}
"""

EXT_QUERIES["outlier_zscore"] = q_outlier_zscore
EXT_ORACLES["outlier_zscore"] = ORACLE_OUTLIER_ZSCORE


HIST_BUCKETS = 20
HIST_LO = 0.0
HIST_HI = 600_000.0


def q_value_histogram(spark, sf_dir):
    """Fixed-width HISTOGRAM of order totals — the profiling/binning
    primitive (feature bucketing, distribution drift checks). Bucket
    index is pure floor arithmetic on literals —
    least(B−1, floor((x − lo)/w)) — identical IEEE evaluation in both
    engines (width_bucket() exists in Spark but not DuckDB, and an
    oracle must run on both). The top edge clamps into the last bucket;
    below-range values clamp to bucket 0 via greatest().

    100 TB notes: one scan → one map-side-combinable aggregate on ≤B
    keys; empty buckets are absent by construction (no dense_rank or
    calendar join needed for a profiling readout)."""
    o = _t(spark, sf_dir, "orders")
    w = (HIST_HI - HIST_LO) / HIST_BUCKETS
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(HIST_BUCKETS - 1),
            F.floor((F.col("o_totalprice") - F.lit(HIST_LO)) / F.lit(w)),
        ),
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("double")
            .alias("bucket_revenue"),
        )
        .withColumn("lo_edge", F.col("bucket") * F.lit(w) + F.lit(HIST_LO))
    )


ORACLE_VALUE_HISTOGRAM = f"""
WITH b AS (
  SELECT greatest(0, least({HIST_BUCKETS - 1},
           CAST(floor((o_totalprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) AS BIGINT)))
           AS bucket,
         o_totalprice
  FROM orders
)
SELECT bucket, count(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS bucket_revenue,
       bucket * {(HIST_HI - HIST_LO) / HIST_BUCKETS} + {HIST_LO} AS lo_edge
FROM b
GROUP BY 1
"""

EXT_QUERIES["value_histogram"] = q_value_histogram
EXT_ORACLES["value_histogram"] = ORACLE_VALUE_HISTOGRAM


def q_cube_revenue(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping
    combinations in one pass — completes the multidimensional-rollup
    family (grouping_sets_revenue: explicit sets; rollup_revenue:
    hierarchy; this: full cross). grouping_id() disambiguates a real
    NULL key from a subtotal row, the standard cube-consumer contract.

    100 TB notes: Spark expands each input row once per grouping set
    (4× here) BEFORE the partial aggregate — map-side combine collapses
    the expansion to |keys|×4 rows per task, so the exchange carries
    subtotal state, never data. Same decimal(38,10) sum discipline as
    every gated aggregate."""
    from .core import _dsum

    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_extendedprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("gid"),
    )


ORACLE_CUBE_REVENUE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

EXT_QUERIES["cube_revenue"] = q_cube_revenue
EXT_ORACLES["cube_revenue"] = ORACLE_CUBE_REVENUE


def q_event_transition_matrix(spark, sf_dir):
    """MARKOV TRANSITION MATRIX over the event stream: per-user
    chronological lag() pairs (prev_type → type) counted corpus-wide,
    with each row's share of its source state's outgoing mass — the
    sequence-model statistic behind next-action prediction features and
    funnel-drop diagnostics. '(start)' marks each user's first event.
    The per-user total order is (ts, event_id) — same tie-break
    discipline as scd2_intervals, so the result is bit-deterministic.

    100 TB notes: one window shuffle on user_id (bounded partitions),
    then a map-side-combinable count on ≤|types|² keys; the share
    divides two exact counts per row — no float accumulation at all."""
    from pyspark.sql import Window

    from .core import _events

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    pairs = ev.select(
        F.coalesce(F.lag("event_type").over(w), F.lit("(start)")).alias("src"),
        F.col("event_type").alias("dst"),
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_trans"))
    # source-state totals as a window over the POST-AGGREGATE frame
    # (≤ (|types|+1)² rows at any corpus size) — no join at all. The
    # previous explicit broadcast of the totals rollup was technically
    # an unbounded-key aggregate (src is DERIVED from event_type via
    # lag+coalesce, so plan text cannot prove the domain) and was the
    # one live shape the r8 ReusedExchange sweep fix flagged.
    w_src = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_trans",
        F.round(
            F.col("n_trans") / F.sum("n_trans").over(w_src), 6
        ).alias("p_trans"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH p AS (
  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '(start)') AS src,
         event_type AS dst
  FROM events
),
c AS (SELECT src, dst, count(*) AS n_trans FROM p GROUP BY 1, 2),
t AS (SELECT src, sum(n_trans) AS n_src FROM c GROUP BY 1)
SELECT c.src, c.dst, c.n_trans,
       round(CAST(c.n_trans AS DOUBLE) / CAST(t.n_src AS DOUBLE), 6) AS p_trans
FROM c JOIN t ON c.src = t.src
"""

EXT_QUERIES["event_transition_matrix"] = q_event_transition_matrix
EXT_ORACLES["event_transition_matrix"] = ORACLE_EVENT_TRANSITION_MATRIX


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q_winsorize_stats(spark, sf_dir):
    """WINSORIZATION — the robust-statistics data-cleaning pass (clamp
    each group's tails at exact p05/p95 instead of dropping them, the
    usual prep for outlier-sensitive feature scaling). Exact JVM
    ``percentile`` per group (percentile_cont interpolation, the
    percentile_bands contract); the boundaries are rounded to 6 dp
    BEFORE clamping so both engines clamp against bit-identical
    thresholds, then the winsorized mean accumulates through
    decimal(38,10).

    100 TB notes: two passes by design — a stats aggregate to |groups|
    rows, broadcast back onto the scan, then one map-side-combinable
    aggregate. Exact group percentiles buffer per-group values (fine
    for bounded groups; unbounded keys would switch to approx_percentile
    with a documented tolerance, which this gate's exact hash could not
    pin)."""
    from .core import _events

    ev = _events(spark, sf_dir)
    pct = F.percentile(F.col("value"), F.array(F.lit(WINSOR_LO), F.lit(WINSOR_HI)))
    stats = ev.groupBy("event_type").agg(
        F.round(pct[0], 6).alias("lo"), F.round(pct[1], 6).alias("hi")
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clamped_lo"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clamped_hi"),
            (
                F.sum(clamped.cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsor_mean"),
        )
        .withColumn("winsor_mean", F.round("winsor_mean", 6))
    )


ORACLE_WINSORIZE_STATS = f"""
WITH s AS (
  SELECT event_type,
         round(percentile_cont({WINSOR_LO}) WITHIN GROUP (ORDER BY value), 6) AS lo,
         round(percentile_cont({WINSOR_HI}) WITHIN GROUP (ORDER BY value), 6) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type, s.lo, s.hi,
       SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS n_clamped_lo,
       SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS n_clamped_hi,
       round(CAST(CAST(SUM(CAST(greatest(lo, least(hi, value)) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS winsor_mean
FROM events e JOIN s ON e.event_type = s.event_type
GROUP BY 1, 2, 3
"""

EXT_QUERIES["winsorize_stats"] = q_winsorize_stats
EXT_ORACLES["winsorize_stats"] = ORACLE_WINSORIZE_STATS


def q_incremental_join_equivalence(spark, sf_dir):
    """Incremental JOIN-view maintenance (the join-level sibling of
    incremental_agg_equivalence): a materialized A⋈B where BOTH sides
    take appends. With increments ΔA, ΔB the maintained view grows by
        (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
    — the standard delta-join identity. Orders (split on o_orderdate)
    and lineitem (split on l_shipdate — a DIFFERENT clock, so every
    delta term is non-trivially populated: late-shipping old orders
    land in A_old⋈ΔB) are joined on orderkey; the union of the four
    terms is aggregated per priority and must equal the full recompute
    (the oracle — which never sees the decomposition).

    100 TB notes: each maintenance cycle joins a small delta against
    the accumulated side instead of recomputing A⋈B — with both sides
    bucketed by the join key (``bucketBy``) the three delta
    joins are shuffle-free on the accumulated side; the deltas
    broadcast. Aggregates fold through decimal partials, so the
    four-way union needs no global order."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    o_cut, l_cut = "1998-06-01", "1998-09-01"
    a_old = o.filter(F.col("o_orderdate") < o_cut)
    da = o.filter(F.col("o_orderdate") >= o_cut)
    b_old = li.filter(F.col("l_shipdate") < l_cut)
    db = li.filter(F.col("l_shipdate") >= l_cut)
    on = F.col("o_orderkey") == F.col("l_orderkey")
    view = (
        a_old.join(b_old, on)
        .unionByName(da.join(b_old, on))
        .unionByName(a_old.join(db, on))
        .unionByName(da.join(db, on))
    )
    return view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,10)"))
        .cast("double")
        .alias("revenue"),
    )


ORACLE_INCREMENTAL_JOIN_EQUIVALENCE = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""

EXT_QUERIES["incremental_join_equivalence"] = q_incremental_join_equivalence
EXT_ORACLES["incremental_join_equivalence"] = ORACLE_INCREMENTAL_JOIN_EQUIVALENCE


def q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape — PROMO revenue share for one shipping quarter:
    a conditional aggregate ratio over a date-windowed fact⋈dim join.
    Both the conditional numerator and the denominator accumulate in
    decimal(38,10) in the SAME aggregate pass; the percentage is one
    double division rounded at the end. The part dim broadcasts; the
    shipdate window is pushed to the lineitem scan.

    Reference analogue: the per-category share-of-activity rollups in
    src/pipelines/features/transformations/view_defi_borrow_features.sql."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,10)")))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        F.round(F.col("promo_rev"), 2).alias("promo_rev"),
        F.round(F.col("total_rev"), 2).alias("total_rev"),
        F.round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6).alias(
            "promo_share_pct"
        ),
    )


ORACLE_PROMO_REVENUE_SHARE = """
WITH j AS (
  SELECT CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10)) AS rev, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1998-04-01'
),
a AS (
  SELECT
    CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(38,10)) END) AS VARCHAR) AS DOUBLE) AS promo_rev,
    CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_rev
  FROM j
)
SELECT round(promo_rev, 2) AS promo_rev,
       round(total_rev, 2) AS total_rev,
       round(100.0 * promo_rev / total_rev, 6) AS promo_share_pct
FROM a
"""

EXT_QUERIES["promo_revenue_share"] = q_promo_revenue_share
EXT_ORACLES["promo_revenue_share"] = ORACLE_PROMO_REVENUE_SHARE


def q_returned_item_revenue(spark, sf_dir):
    """TPC-H Q10 shape — top-20 customers by revenue LOST to returns in
    one quarter: date-windowed orders ⋈ returned lineitems ⋈ customer ⋈
    nation, a four-table star with a global top-k. The top-20 boundary
    is made engine-independent by ranking on the ROUNDED revenue with
    c_custkey as the total tie-break (same discipline as
    tfidf_top_terms); TakeOrderedAndProject keeps the global sort
    k-bounded per partition.

    100 TB notes: customer/nation broadcast; the orders⋈lineitem join
    shuffles once on orderkey with both date and returnflag filters
    pushed to the scans; the aggregate is map-side combinable on
    custkey before the top-k."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1998-04-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    per_cust = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev).cast("double"), 6).alias("returned_rev"))
    )
    return per_cust.orderBy(
        F.col("returned_rev").desc(), F.col("c_custkey").asc()
    ).limit(20)


ORACLE_RETURNED_ITEM_REVENUE = """
SELECT c_custkey, c_name, n_name,
       round(CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS returned_rev
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1998-04-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY returned_rev DESC, c_custkey ASC
LIMIT 20
"""

EXT_QUERIES["returned_item_revenue"] = q_returned_item_revenue
EXT_ORACLES["returned_item_revenue"] = ORACLE_RETURNED_ITEM_REVENUE


# ---------------------------------------------------------------------------
# Shared near-dup graph artifact: the verified LSH edge list, built once
# per corpus and LOADED by every graph consumer (clusters, keep-best
# election, triangles, PageRank) — same load-first discipline as the IVF
# index.
# ---------------------------------------------------------------------------

LSH_EDGES_ROOT = os.path.join(_REPO_ROOT, "artifacts", "lsh_edges")
_LSH_EDGES_CACHE: dict[str, tuple] = {}  # sf key → (checked path, schema)


def lsh_edges_dir(sf_dir: str) -> str:
    return os.path.join(LSH_EDGES_ROOT, _artifact_subdir(sf_dir))


def _docs_fingerprint(spark, sf_dir: str):
    """(row count, doc_id checksum, text-content checksum) — corpus
    identity for edge-artifact freshness (the edge list does not cover
    every doc, so unlike IVF's assignment table it cannot self-certify;
    a one-row meta table records what the edges were built from).

    The content term (r10, the _emb_fingerprint lesson applied to its
    sibling): LSH edges are a function of the TEXT (shingles), so a
    regenerated corpus reusing doc_ids with different text must change
    the fingerprint — (count, sum(id)) alone would serve a stale
    committed edge list on the oracle-free bench path. Order-independent
    sum of a JVM crc32 per row (the _customer_fingerprint convention)."""
    r = (
        _t(spark, sf_dir, "documents")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("s"),
            F.sum(F.crc32(F.col("text"))).alias("c"),
        )
        .first()
    )
    return int(r["n"] or 0), int(r["s"] or 0), int(r["c"] or 0)


def _lsh_edges(spark, sf_dir: str) -> DataFrame:
    """LOAD-first (doc_a, doc_b) verified near-dup pair list under
    ``artifacts/lsh_edges/<sf>/``. Four downstream consumers walk this
    graph (cluster labeling, keeper election, triangle count,
    PageRank); recomputing shingles→MinHash→bands→verify inside each of
    them — the expensive linear pass over the whole corpus — is exactly
    the redundancy the IVF index round removed for embeddings (round-5
    verdict #3). Steady state: one meta read + one fingerprint
    aggregate, then a plain parquet scan of the edges; the pair
    pipeline runs only when the corpus changed (see
    ``_fingerprinted_artifact``).

    ``dedup_lsh_verified`` itself stays a LIVE computation — it is the
    pair list's definition and its gate must keep proving the pipeline,
    not the artifact."""
    return _fingerprinted_artifact(
        spark, lsh_edges_dir(sf_dir), _LSH_EDGES_CACHE, sf_dir, "edges",
        lambda: dict(zip("nsc", _docs_fingerprint(spark, sf_dir))),
        lambda: q_dedup_lsh_verified(spark, sf_dir).select("doc_a", "doc_b"),
    )


LSH_CC_ROOT = os.path.join(_REPO_ROOT, "artifacts", "lsh_cc_labels")
_LSH_CC_CACHE: dict[str, tuple] = {}


def _lsh_cc_labels(spark, sf_dir: str) -> DataFrame:
    """LOAD-first (node, label) connected-component labels over the
    verified near-dup edge list. ``dedup_clusters_lsh`` stays a LIVE
    CC run — it is the labeling's definition and its gate keeps
    proving the iteration; consumers that only need the RESULT
    (keeper election) load this artifact instead of paying the
    multi-round CC again (fingerprint freshness, as for the ER edges:
    see ``_fingerprinted_artifact``)."""
    from ..operators.graph import connected_components

    return _fingerprinted_artifact(
        spark, os.path.join(LSH_CC_ROOT, _artifact_subdir(sf_dir)),
        _LSH_CC_CACHE, sf_dir, "labels",
        lambda: dict(zip("nsc", _docs_fingerprint(spark, sf_dir))),
        lambda: connected_components(
            _lsh_edges(spark, sf_dir), "doc_a", "doc_b", symmetrize=True
        ),
    )


RFM_NOW = "2002-01-01"  # injected reference instant (A2 discipline: no now())


def q_rfm_features(spark, sf_dir):
    """RFM FEATURE BLOCK per customer — recency (days since last
    order, against an INJECTED reference date, the A2 deterministic-now
    discipline), frequency (order count), monetary (decimal-summed
    lifetime value) — the classic churn/LTV feature triple, assembled
    exactly like the reference's per-wallet feature views (one
    map-side-combinable aggregate per customer, left join back to the
    customer spine, COALESCE-0 sentinels for order-less customers;
    reference analogue: view_lending_time_and_count's
    days-since-last + count pattern,
    src/pipelines/features/transformations/).

    100 TB notes: one scan of orders, one aggregate on custkey, one
    shuffle-or-broadcast join to the spine — no window, no sort. The
    -1 recency sentinel (not NULL) keeps the feature vector dense, the
    same contract as the DeFi feature spine."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
        .cast("double")
        .alias("monetary"),
    )
    j = c.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
    return j.select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(
            F.datediff(F.lit(RFM_NOW).cast("date"), F.col("__last")), F.lit(-1)
        ).alias("recency_days"),
        F.coalesce(F.col("frequency"), F.lit(0)).alias("frequency"),
        F.round(F.coalesce(F.col("monetary"), F.lit(0.0)), 2).alias("monetary"),
    )


ORACLE_RFM_FEATURES = f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*) AS frequency,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
)
SELECT c_custkey, c_mktsegment,
       coalesce(DATE '{RFM_NOW}' - last_order, -1) AS recency_days,
       coalesce(frequency, 0) AS frequency,
       round(coalesce(monetary, 0.0), 2) AS monetary
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
"""

EXT_QUERIES["rfm_features"] = q_rfm_features
EXT_ORACLES["rfm_features"] = ORACLE_RFM_FEATURES


# ---------------------------------------------------------------------------
# Distributed linear algebra over the embedding column: per-dimension
# moments and an exact Gram (X^T X) block — the statistics an embedding
# QA / whitening / PCA-prep stage needs, with the repo's exact-decimal
# determinism discipline so both engines hash-match bit-for-bit.
# ---------------------------------------------------------------------------


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension mean / variance / min / max of the embedding
    matrix — the embedding-drift monitor of a training-data pipeline.

    ONE posexplode pass (n x d rows), groupBy dimension (d = 64 keys,
    map-side combinable), so the cost is linear in the corpus with a
    single shuffle of (dim, partial-moment) combiners. The float32
    elements are widened to double (exact), squared (exact in IEEE:
    24-bit mantissa products fit in 53 bits), accumulated in
    decimal(38,10) (order-independent), and the final mean/variance is
    ONE closed-form double expression — the same discipline as
    feature_correlations / outlier_zscore.

    100 TB: identical plan; d stays 64, so the reduce side is constant
    width no matter the corpus size."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = _spread(spark, e)
    x = F.col("x").cast("double")
    exploded = e.select(F.posexplode("embedding").alias("dim", "x"))
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x.cast("decimal(38,10)")).cast("double").alias("__s"),
        F.sum((x * x).cast("decimal(38,10)")).cast("double").alias("__sq"),
        F.min(x).alias("__mn"),
        F.max(x).alias("__mx"),
    )
    return agg.select(
        "dim",
        F.round(F.col("__s") / F.col("__n"), 8).alias("dim_mean"),
        F.round(
            (F.col("__sq") - F.col("__s") * F.col("__s") / F.col("__n"))
            / F.col("__n"),
            8,
        ).alias("dim_var"),
        F.round("__mn", 8).alias("dim_min"),
        F.round("__mx", 8).alias("dim_max"),
    )


ORACLE_EMBEDDING_DIM_STATS = """
WITH ex AS (
  SELECT u.s.dim AS dim, CAST(u.s.x AS DOUBLE) AS x
  FROM embeddings,
       unnest([{'dim': i - 1, 'x': embedding[i]}
               FOR i IN range(1, len(embedding) + 1)]) AS u(s)
),
agg AS (
  SELECT dim, count(*) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sq,
         min(x) AS mn, max(x) AS mx
  FROM ex GROUP BY 1
)
SELECT dim, round(s / n, 8) AS dim_mean,
       round((sq - s * s / n) / n, 8) AS dim_var,
       round(mn, 8) AS dim_min, round(mx, 8) AS dim_max
FROM agg
"""

EXT_QUERIES["embedding_dim_stats"] = q_embedding_dim_stats
EXT_ORACLES["embedding_dim_stats"] = ORACLE_EMBEDDING_DIM_STATS

GRAM_DIMS = 8  # leading dims in the exact Gram block (upper triangle)


def q_embedding_gram_block(spark, sf_dir):
    """Exact Gram block — X^T X over the leading 8 embedding dimensions
    (upper triangle, 36 entries) as 36 independent decimal aggregates
    in a SINGLE scan-only pass: no explode, no pair fan-out, no shuffle
    except the 1-row final reduce. Element products are exact
    (float32 widened to double), accumulation is decimal(38,10)
    (order-independent), so the matrix is bit-identical however the
    corpus is partitioned — the property a distributed PCA/whitening
    prep needs for reproducible runs.

    100 TB scale-out to full d: tile the d(d+1)/2 sums into ceil(T)
    passes of ~a few hundred aggregate expressions each (plan-size
    bound, all map-side combinable), or swap in a mapInArrow partial
    X^T X per partition when exactness can yield to speed — the
    arrow_batch_stats gate shows that machinery. The single-pass
    multi-aggregate here is the JVM-exact member of that family."""
    e = _t(spark, sf_dir, "embeddings").select("embedding")
    aggs = []
    names = []
    for i in range(1, GRAM_DIMS + 1):
        for j in range(i, GRAM_DIMS + 1):
            xi = F.element_at("embedding", i).cast("double")
            xj = F.element_at("embedding", j).cast("double")
            nm = f"g_{i}_{j}"
            aggs.append(
                F.sum((xi * xj).cast("decimal(38,10)")).cast("double").alias(nm)
            )
            names.append((i, j, nm))
    one = e.agg(*aggs)
    stack = ", ".join(f"{i}, {j}, round({nm}, 8)" for i, j, nm in names)
    return one.select(
        F.expr(
            f"stack({len(names)}, {stack}) AS (dim_i, dim_j, gram)"
        )
    )


def _gram_oracle() -> str:
    rows = []
    for i in range(1, GRAM_DIMS + 1):
        for j in range(i, GRAM_DIMS + 1):
            rows.append(
                f"SELECT {i} AS dim_i, {j} AS dim_j, "
                "round(CAST(CAST(SUM(CAST(CAST(embedding[" + str(i) + "] AS DOUBLE)"
                " * CAST(embedding[" + str(j) + "] AS DOUBLE) AS DECIMAL(38,10)))"
                " AS VARCHAR) AS DOUBLE), 8) AS gram FROM embeddings"
            )
    return "\nUNION ALL\n".join(rows)


EXT_QUERIES["embedding_gram_block"] = q_embedding_gram_block
EXT_ORACLES["embedding_gram_block"] = _gram_oracle()


# ---------------------------------------------------------------------------
# Bounded-memory heavy hitters + deterministic sampling family
# ---------------------------------------------------------------------------

HH_PHI = 0.008  # support threshold: a heavy hitter covers > 0.8% of events


def q_heavy_hitters_mg(spark, sf_dir):
    """Exact heavy hitters with a bounded-memory candidate pass: users
    covering > 0.8% of all events. Phase 1 runs per-partition
    Misra-Gries (k = ceil(1/phi) counters, O(k) memory per task — see
    operators/sketches.py for the superset guarantee), phase 2 exact-
    counts ONLY rows whose key survived phase 1 (broadcast LEFT SEMI),
    then applies the threshold against the exact total from a 1-row
    aggregate. The final output is exact, so the oracle is the plain
    GROUP BY ... HAVING — the sketch must be invisible, same discipline
    as bloom_prune_join.

    100 TB: phase 1 is map-only; phase 2 shuffles only the candidate
    rows (a small fraction under a light-tailed key distribution), vs
    a full-table shuffle for the naive exact groupBy."""
    from ..operators.sketches import misra_gries_candidates
    from .core import _events

    ev = _events(spark, sf_dir).select("user_id")
    k = int(1.0 / HH_PHI) + 1
    cand = misra_gries_candidates(ev, "user_id", k)
    total = ev.agg(F.count(F.lit(1)).alias("__n"))
    counts = (
        ev.join(F.broadcast(cand.withColumnRenamed("user_id", "__cand")),
                F.col("user_id") == F.col("__cand"), "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # scalar subquery for the threshold (an inequality against a global
    # aggregate would otherwise plan as a BroadcastNestedLoopJoin)
    n_total = total.scalar()
    return counts.filter(F.col("n_events") > F.lit(HH_PHI) * n_total).select(
        "user_id",
        "n_events",
        F.round(F.col("n_events") / n_total, 8).alias("support"),
    )


ORACLE_HEAVY_HITTERS_MG = f"""
SELECT user_id, count(*) AS n_events,
       round(count(*) / (SELECT count(*) FROM events), 8) AS support
FROM events
GROUP BY 1
HAVING count(*) > {HH_PHI} * (SELECT count(*) FROM events)
"""

EXT_QUERIES["heavy_hitters_mg"] = q_heavy_hitters_mg
EXT_ORACLES["heavy_hitters_mg"] = ORACLE_HEAVY_HITTERS_MG


RESERVOIR_K = 40


def q_reservoir_sample_fixed(spark, sf_dir):
    """Fixed-size uniform sample without replacement, deterministic:
    rank documents by an md5-derived integer key (a seeded pseudo-
    random permutation both engines compute bit-identically — no
    floats anywhere) and keep the k smallest. Equivalent in
    distribution to reservoir sampling, but order-independent and
    rerunnable — the property a reproducible training-data pipeline
    needs from its sampler.

    100 TB: TakeOrderedAndProject keeps k rows per partition then a
    k-row driver merge; no full sort, no single-partition stage."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    key = _h(F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string")))
    return (
        d.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").asc(), F.col("doc_id").asc())
        .limit(RESERVOIR_K)
    )


ORACLE_RESERVOIR_SAMPLE_FIXED = f"""
SELECT doc_id,
       {H_SQL.format(x="'reservoir:' || CAST(doc_id AS VARCHAR)")} AS sample_key
FROM documents
ORDER BY sample_key ASC, doc_id ASC
LIMIT {RESERVOIR_K}
"""

EXT_QUERIES["reservoir_sample_fixed"] = q_reservoir_sample_fixed
EXT_ORACLES["reservoir_sample_fixed"] = ORACLE_RESERVOIR_SAMPLE_FIXED


WEIGHTED_K = 50


def q_weighted_sample_topk(spark, sf_dir):
    """Weighted sample without replacement (Efraimidis-Spirakis):
    each doc draws a deterministic uniform u from an md5 hash and gets
    priority ln(u)/weight (monotone-equivalent to the classical
    u^(1/w)); the k LARGEST priorities are the sample, so selection
    probability is proportional to weight (n_chars). u is exact
    integer arithmetic in both engines; ln is the only libm call and
    its <=1-ulp cross-engine drift is rounded away at 10 decimals
    before ranking (same boundary discipline as tfidf_top_terms),
    with doc_id as the total tie-break.

    100 TB: map-only scoring + TakeOrderedAndProject top-k — no
    shuffle, no driver-side randomness, rerun-stable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = _h(F.concat(F.lit("es:"), F.col("doc_id").cast("string")))
    u = (F.pmod(h, F.lit(1000003)) + F.lit(1)) / F.lit(1000004.0)
    pri = F.round(F.log(u) / F.col("n_chars").cast("double"), 10)
    return (
        d.withColumn("priority", pri)
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(WEIGHTED_K)
        .select("doc_id", "n_chars", "priority")
    )


_ES_H = H_SQL.format(x="'es:' || CAST(doc_id AS VARCHAR)")
ORACLE_WEIGHTED_SAMPLE_TOPK = f"""
SELECT doc_id, n_chars,
       round(ln((({_ES_H}) % 1000003 + 1) / 1000004.0)
             / CAST(n_chars AS DOUBLE), 10) AS priority
FROM documents
ORDER BY priority DESC, doc_id ASC
LIMIT {WEIGHTED_K}
"""

EXT_QUERIES["weighted_sample_topk"] = q_weighted_sample_topk
EXT_ORACLES["weighted_sample_topk"] = ORACLE_WEIGHTED_SAMPLE_TOPK


# ---------------------------------------------------------------------------
# Warehouse change-data-capture, pivot, LM scoring, attribution
# ---------------------------------------------------------------------------


def q_cdc_snapshot_diff(spark, sf_dir):
    """Snapshot-diff CDC: derive inserts / updates / deletes between
    two table versions with ONE full-outer join on the key. The two
    versions are deterministic derivations of `orders` (old = pre-1999
    rows; new = pre-2000 rows, minus every 97th key as simulated
    deletes, with open-status rows repriced +10%), so both engines
    build identical snapshots and the diff is exactly reproducible.

    100 TB: the diff shuffles each snapshot once on the key (or zero
    times if both versions are bucketed on it with ``bucketBy``);
    unchanged rows are dropped BEFORE the output projection, so the
    result is proportional to the churn, not the table.

    Reference analogue: the reference's daily full-refresh pipelines
    (src/pipelines/features/save_defi_features_features_db.py) would
    become this diff against the serving store under an incremental
    migration."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderdate") < "1999-01-01").select(
        F.col("o_orderkey").alias("old_key"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = (
        o.filter(F.col("o_orderdate") < "2000-01-01")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("new_key"),
            F.when(
                F.col("o_orderstatus") == "O",
                # exact decimal reprice: double->dec(18,4) rounds the
                # same way in both engines; (18,4)x(2,1) is exact; the
                # final HALF_UP round-to-2 is decimal, not float
                F.round(
                    F.col("o_totalprice").cast("decimal(18,4)")
                    * F.lit(1.1).cast("decimal(2,1)"),
                    2,
                ).cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
    )
    d = old.join(new, F.col("old_key") == F.col("new_key"), "full_outer")
    change = (
        F.when(F.col("old_key").isNull(), F.lit("insert"))
        .when(F.col("new_key").isNull(), F.lit("delete"))
        .when(F.col("old_price") != F.col("new_price"), F.lit("update"))
    )
    return (
        d.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            "change_type",
            "old_price",
            "new_price",
        )
    )


ORACLE_CDC_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS old_price
  FROM orders WHERE o_orderdate < '1999-01-01'
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderstatus = 'O' THEN
           CAST(CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)), 2) AS VARCHAR) AS DOUBLE)
         ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderdate < '2000-01-01' AND o_orderkey % 97 <> 0
)
SELECT coalesce(old.k, new.k) AS o_orderkey,
       CASE WHEN old.k IS NULL THEN 'insert'
            WHEN new.k IS NULL THEN 'delete'
            WHEN old_price <> new_price THEN 'update' END AS change_type,
       old_price, new_price
FROM old FULL OUTER JOIN new ON old.k = new.k
WHERE (CASE WHEN old.k IS NULL THEN 'insert'
            WHEN new.k IS NULL THEN 'delete'
            WHEN old_price <> new_price THEN 'update' END) IS NOT NULL
"""

EXT_QUERIES["cdc_snapshot_diff"] = q_cdc_snapshot_diff
EXT_ORACLES["cdc_snapshot_diff"] = ORACLE_CDC_SNAPSHOT_DIFF


PIVOT_TYPES = ["click", "purchase", "view"]


def q_pivot_event_value(spark, sf_dir):
    """PIVOT with an explicit value list: per-user event-type revenue
    matrix. The values list is FIXED (no discovery pass and a stable
    schema — the form that scales: pivot with inferred values needs an
    extra distinct scan and produces an unbounded column count); each
    cell is an exact decimal sum. One shuffle on user_id; cells are
    map-side combinable.

    Reference analogue: the per-category feature columns the reference
    fans out by hand in view_defi_borrow_features.sql."""
    from .core import _events

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    cell = F.round(
        F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
    )
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", PIVOT_TYPES)
        .agg(cell)
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0.0)).alias(f"{t}_rev")
            for t in PIVOT_TYPES
        ],
    )


ORACLE_PIVOT_EVENT_VALUE = """
SELECT user_id,
       coalesce(round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) FILTER (WHERE event_type = 'click') AS VARCHAR) AS DOUBLE), 6), 0.0) AS click_rev,
       coalesce(round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) FILTER (WHERE event_type = 'purchase') AS VARCHAR) AS DOUBLE), 6), 0.0) AS purchase_rev,
       coalesce(round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) FILTER (WHERE event_type = 'view') AS VARCHAR) AS DOUBLE), 6), 0.0) AS view_rev
FROM events
GROUP BY 1
"""

EXT_QUERIES["pivot_event_value"] = q_pivot_event_value
EXT_ORACLES["pivot_event_value"] = ORACLE_PIVOT_EVENT_VALUE


def q_doc_lm_score(spark, sf_dir):
    """Bigram language-model scoring — per-doc mean log-likelihood
    under the corpus MLE bigram model (p(w2|w1) = c(w1 w2) / c(w1-) with
    c(w1-) = occurrences of w1 as a bigram prefix). The LM-based
    quality score a curation pipeline uses next to the heuristic
    text_quality features.

    Determinism: p is a ratio of exact integer counts; ln(p) is the
    only libm call, rounded at 10 decimals per INSTANCE before the
    per-doc aggregation, which then runs in exact decimal — summation
    order cannot move the score (same discipline as
    weighted_sample_topk / tfidf).

    100 TB: bigram instances are one exploded pass; the model table
    (vocab^2 at worst, df-prunable) broadcasts back; per-doc rollup is
    map-side combinable. No quadratic anything."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _spread(spark, d)
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
    # the model derives FROM the instances, so without a cut the
    # tokenize+explode corpus pass runs twice (once for the broadcast
    # model build, once for the probe side); lazy localCheckpoint
    # materializes it on the model-build job and reuses it for scoring
    inst = inst.localCheckpoint(eager=False)
    c12 = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy(F.col("w1").alias("__w1")).agg(F.sum("c12").alias("c1"))
    model = c12.join(F.broadcast(c1), F.col("w1") == F.col("__w1")).select(
        F.col("w1").alias("m_w1"), F.col("w2").alias("m_w2"), "c12", "c1"
    )
    logp = F.round(F.log(F.col("c12") / F.col("c1")), 10)
    return (
        inst.join(
            F.broadcast(model),
            (F.col("w1") == F.col("m_w1")) & (F.col("w2") == F.col("m_w2")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(logp.cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("lm_score"),
        )
    )


ORACLE_DOC_LM_SCORE = f"""
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
c12 AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
model AS (SELECT c12.w1, c12.w2, round(ln(c12 / c1), 10) AS logp
          FROM c12 JOIN c1 USING (w1))
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(CAST(SUM(CAST(logp AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*), 8) AS lm_score
FROM inst JOIN model USING (w1, w2)
GROUP BY 1
"""

EXT_QUERIES["doc_lm_score"] = q_doc_lm_score
EXT_ORACLES["doc_lm_score"] = ORACLE_DOC_LM_SCORE


ATTR_WINDOW_DAYS = 3


def q_last_touch_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view within 3 days (else 'direct'),
    then revenue rolls up per channel. Decorrelated as ONE union +
    window pass: touches and purchases interleave per user ordered by
    (ts, is_purchase, event_type, event_id) — so at equal ts the touch
    sorts first (inclusive semantics) and the running `last non-null
    touch` carried by last(ignorenulls) is exactly the correlated
    `ORDER BY ts DESC, event_type DESC, event_id DESC LIMIT 1` probe
    the oracle runs per purchase.

    100 TB: one shuffle on user_id for the window; the correlated form
    would probe the event log once per purchase. The 3-day staleness
    check happens AFTER the carry, as plain column math."""
    from .core import _events

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    tagged = ev.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).withColumn(
        "__touch",
        F.when(
            F.col("event_type").isin("click", "view"),
            F.struct(
                F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")
            ),
        ),
    ).withColumn("__is_p", (F.col("event_type") == "purchase").cast("int"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__is_p", "event_type", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn("__last", F.last("__touch", ignorenulls=True).over(w))
    channel = F.when(
        F.col("__last").isNull()
        | (
            F.col("ts").cast("long") - F.col("__last.t_ts").cast("long")
            > ATTR_WINDOW_DAYS * 86400
        ),
        F.lit("direct"),
    ).otherwise(F.col("__last.t_type"))
    return (
        carried.filter(F.col("__is_p") == 1)
        .select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("attributed_rev"),
        )
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
att AS (
  SELECT p.value,
         coalesce((
           SELECT t.event_type FROM events t
           WHERE t.user_id = p.user_id
             AND t.event_type IN ('click', 'view')
             AND t.ts <= p.ts
             AND t.ts >= p.ts - INTERVAL {ATTR_WINDOW_DAYS * 24} HOUR
           ORDER BY t.ts DESC, t.event_type DESC, t.event_id DESC
           LIMIT 1), 'direct') AS channel
  FROM p
)
SELECT channel, count(*) AS n_purchases,
       round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS attributed_rev
FROM att
GROUP BY 1
"""

EXT_QUERIES["last_touch_attribution"] = q_last_touch_attribution
EXT_ORACLES["last_touch_attribution"] = ORACLE_LAST_TOUCH_ATTRIBUTION


def q_resample_daily_gapfill(spark, sf_dir):
    """Time-series resample to a daily grid with gap filling: each
    user's activity span is densified to one row per calendar day;
    days with no events get n_events = 0 and carry the last observed
    daily average forward (LOCF). The calendar is generated PER USER
    from that user's own min/max day via sequence()+explode — a
    constant map-side fan-out, NOT a users x days cross join (which
    would be a CartesianProduct, banned by the plan sweep, and a
    scale hazard when the day span grows).

    100 TB: one shuffle to the per-(user, day) rollup, one to the
    per-user span, one window pass for the carry — all on user_id, so
    an engine that reuses partitioning runs them in one exchange.
    LOCF via last(ignorenulls) is the same carry machinery as
    last_touch_attribution.

    Reference analogue: the daily feature grids the reference
    materializes per wallet (view_defi_features_all_wallets.sql)."""
    from .core import _events
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        F.col("user_id"), F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__avg"),
    )
    grid = (
        ev.groupBy(F.col("user_id").alias("__u"))
        .agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
        .select(
            "__u",
            F.explode(
                F.expr("sequence(__d0, __d1, interval 1 day)")
            ).alias("__day"),
        )
    )
    j = grid.join(
        daily,
        (F.col("__u") == F.col("user_id")) & (F.col("__day") == F.col("day")),
        "left",
    )
    w = (
        Window.partitionBy("__u")
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col("__u").alias("user_id"),
        F.col("__day").alias("day"),
        F.coalesce("__n", F.lit(0)).alias("n_events"),
        F.last("__avg", ignorenulls=True).over(w).alias("locf_avg_value"),
    )


ORACLE_RESAMPLE_DAILY_GAPFILL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
),
daily AS (
  SELECT user_id, day, count(*) AS n,
         round(CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_v
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT user_id AS u, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM ev GROUP BY user_id
)
SELECT grid.u AS user_id, grid.day,
       coalesce(daily.n, 0) AS n_events,
       last_value(daily.avg_v IGNORE NULLS) OVER (
         PARTITION BY grid.u ORDER BY grid.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg_value
FROM grid LEFT JOIN daily ON grid.u = daily.user_id AND grid.day = daily.day
"""

EXT_QUERIES["resample_daily_gapfill"] = q_resample_daily_gapfill
EXT_ORACLES["resample_daily_gapfill"] = ORACLE_RESAMPLE_DAILY_GAPFILL


# ---------------------------------------------------------------------------
# LLM training-prep: document chunking and sequence packing
# ---------------------------------------------------------------------------

CHUNK_LEN = 32    # tokens per chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_LEN - CHUNK_STRIDE


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking — the passage extraction step
    ahead of embedding / retrieval indexing: 32-token windows every 24
    tokens (8-token overlap), map-only via sequence()+explode+slice.
    Chunks are emitted as (doc_id, chunk_idx, n_tokens, chunk_hash):
    the md5-derived hash pins the exact chunk CONTENT cross-engine
    without shipping the text twice.

    100 TB: pure map-side fan-out of ~len/stride chunks per doc — no
    shuffle at all in this projection; downstream consumers group by
    chunk_hash (dedup) or embed per chunk."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _spread(spark, d)
    toks = d.withColumn("__toks", F.expr(TOKENS_SPARK)).filter(
        F.size("__toks") > 0
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, size(__toks), {CHUNK_STRIDE}), "
                   f"s -> slice(__toks, s, {CHUNK_LEN}))")
        ).alias("chunk_idx", "__chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("__chunk").alias("n_tokens"),
        _h(F.concat_ws(" ", "__chunk")).alias("chunk_hash"),
    )


ORACLE_CHUNK_DOCUMENTS = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
chunks AS (
  SELECT doc_id,
         u.c['i'] AS chunk_idx,
         u.c['ch'] AS chunk
  FROM (
    SELECT doc_id,
           [{{'i': CAST((s - 1) // {CHUNK_STRIDE} AS INT),
              'ch': list_slice(toks, s, s + {CHUNK_LEN - 1})}}
            FOR s IN range(1, len(toks) + 1, {CHUNK_STRIDE})] AS cs
    FROM toked WHERE len(toks) > 0
  ), unnest(cs) AS u(c)
)
SELECT doc_id, chunk_idx, len(chunk) AS n_tokens,
       {H_SQL.format(x="array_to_string(chunk, ' ')")} AS chunk_hash
FROM chunks
"""

EXT_QUERIES["chunk_documents"] = q_chunk_documents
EXT_ORACLES["chunk_documents"] = ORACLE_CHUNK_DOCUMENTS


PACK_CAPACITY = 512  # tokens per packed training sequence


def q_pack_training_sequences(spark, sf_dir):
    """Sequence packing — assign documents to fixed-capacity training
    sequences by their exclusive start offset in the doc_id-ordered
    token stream: bin = floor(start_offset / capacity). Offsets come
    from the distributed prefix-sum operator (two-pass range-sort +
    per-partition offsets, operators/ranking.py::global_prefix_sum) —
    NOT a single-partition global window, so the plan survives a
    corpus that does not fit one task. All arithmetic is integer-
    exact; the oracle's naive global window proves the distributed
    scan computes the same offsets.

    100 TB: range sort + one tiny offset collect; per-bin rollup is
    map-side combinable on the already-sorted stream."""
    from ..operators.ranking import global_prefix_sum

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.size(F.expr(TOKENS_SPARK)).alias("n_tokens")
    )
    pre = global_prefix_sum(toks, ["doc_id"], "n_tokens", out_col="__cum")
    binned = pre.withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / PACK_CAPACITY).cast("long"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_PACK_TRAINING_SEQUENCES = f"""
WITH toked AS (
  SELECT doc_id, len({TOKENS_DUCK}) AS n_tokens FROM documents
),
pre AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toked
)
SELECT CAST(floor((cum - n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       SUM(n_tokens) AS n_tokens_total,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM pre
GROUP BY 1
"""

EXT_QUERIES["pack_training_sequences"] = q_pack_training_sequences
EXT_ORACLES["pack_training_sequences"] = ORACLE_PACK_TRAINING_SEQUENCES


def _stage_events_with_flush(spark, sf_dir):
    """The outer-join stream: the events file, then ONE far-future
    '__flush' sentinel row as a second file and micro-batch. The
    sentinel's only job is to advance BOTH sides' event-time watermarks
    past every real row + join interval, so the left-outer state store
    provably evicts and emits its final null matches — the production
    pattern for flushing a stream-stream outer join at end-of-feed.
    The sentinel is built with the file's own physical schema (nanos-
    as-long or timestamp), so the streaming read sees one type."""

    def flush(raw):
        if dict(raw.dtypes)["ts"] == "bigint":  # nanosecond longs
            ts = (F.col("ts") + F.lit(30 * 86400 * 10**9)).cast("long")
        else:
            ts = F.col("ts") + F.expr("INTERVAL 30 DAYS")
        row = {"ts": ts, "event_id": F.lit(-1), "user_id": F.lit(-1),
               "event_type": F.lit("__flush")}
        return raw.agg(F.max("ts").alias("ts")).select(*(
            row.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
            for f in raw.schema.fields
        ))

    return _stream_table(
        spark, sf_dir, "events", "streaming_interval_join_outer", tail=flush
    )


def q_streaming_interval_join_outer(spark, sf_dir):
    """§2.9 stream-stream LEFT OUTER interval join — purchases with
    their views within ±1 h, or NULL if none ever arrives. The hard
    part of an outer stream join is the NULL side: a purchase may only
    emit unmatched once the watermark proves no matching view can
    still arrive, and at end-of-feed the watermark normally stalls at
    (max event time − delay), stranding the tail in the state store.
    The '__flush' sentinel (see _stage_events_with_flush) advances both
    watermarks 30 days past the data, so every unmatched purchase is
    evicted and emitted — making the bounded-stream result EXACTLY the
    batch LEFT JOIN the oracle runs, tail included.

    The sentinel flows THROUGH the watermark operators (the type
    filters keep it) and exits via the final key filter — it cannot be
    filtered before the watermark node or Catalyst pushes the predicate
    below EventTimeWatermark and the flush never registers.

    100 TB: state per side is bounded by watermark + interval; the
    sentinel generalizes to per-partition heartbeat rows."""
    ev = _stage_events_with_flush(spark, sf_dir)
    p = (
        ev.select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
            F.col("event_type").alias("p_type"),
        )
        .withWatermark("pts", "1 hour")
        .filter(F.col("p_type").isin("purchase", "__flush"))
    )
    v = (
        ev.select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("vts"),
            F.col("event_type").alias("v_type"),
        )
        .withWatermark("vts", "1 hour")
        .filter(F.col("v_type").isin("view", "__flush"))
    )
    j = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    return (
        _run_stream(j, "append")
        .filter(F.col("p_id") >= 0)  # drop the sentinel's own row
        .select(
            "p_id",
            "v_id",
            F.col("p_user").alias("user_id"),
            F.col("pts").cast("long").alias("purchase_ts"),
            F.col("vts").cast("long").alias("view_ts"),
        )
    )


ORACLE_STREAMING_INTERVAL_JOIN_OUTER = f"""
SELECT p.event_id AS p_id,
       v.event_id AS v_id,
       p.user_id,
       {_epoch_sql('p.ts')} AS purchase_ts,
       {_epoch_sql('v.ts')} AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <= p.ts + INTERVAL 1 HOUR
"""

EXT_QUERIES["streaming_interval_join_outer"] = q_streaming_interval_join_outer
EXT_ORACLES["streaming_interval_join_outer"] = ORACLE_STREAMING_INTERVAL_JOIN_OUTER


def q_nullsafe_segment_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): merge two
    per-segment rollups where the segment key may be NULL ("unknown")
    and unknowns must MERGE with unknowns — plain equality silently
    drops every NULL-keyed row, the classic data-integration bug. The
    NULL bucket is derived deterministically (NULLIF on one segment)
    so both engines build identical nullable keys.

    Spark plans <=> as a hash join on a null-safe key (no fallback to
    nested loop); at scale it behaves exactly like an equi join —
    NULLs hash to one bucket, so a huge unknown population is a skew
    key to salt like any other."""
    c = _t(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg"),
        "c_custkey",
    )
    o = _t(spark, sf_dir, "orders").join(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("oseg"),
        "o_orderkey",
    )
    lc = c.groupBy("seg").agg(F.count(F.lit(1)).alias("n_cust"))
    ro = o.groupBy("oseg").agg(F.count(F.lit(1)).alias("n_orders"))
    return lc.join(ro, F.col("seg").eqNullSafe(F.col("oseg"))).select(
        "seg", "n_cust", "n_orders"
    )


ORACLE_NULLSAFE_SEGMENT_JOIN = """
WITH lc AS (
  SELECT nullif(c_mktsegment, 'MACHINERY') AS seg, count(*) AS n_cust
  FROM customer GROUP BY 1
),
ro AS (
  SELECT nullif(c_mktsegment, 'MACHINERY') AS oseg, count(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
)
SELECT seg, n_cust, n_orders
FROM lc JOIN ro ON seg IS NOT DISTINCT FROM oseg
"""

EXT_QUERIES["nullsafe_segment_join"] = q_nullsafe_segment_join
EXT_ORACLES["nullsafe_segment_join"] = ORACLE_NULLSAFE_SEGMENT_JOIN


# ---------------------------------------------------------------------------
# Product quantization (PQ): 64-dim float vectors -> 8 one-byte codes via
# per-subspace k-means codebooks; search scores candidates from a
# per-query lookup table without touching the float vectors at all
# (asymmetric distance computation, ADC) — the memory-bandwidth-optimal
# member of the ANN family (int8 scalar quantization keeps 64 bytes per
# vector; PQ keeps 8). Same load-first artifact discipline as the IVF
# index; the DuckDB oracles recompute assignment/scoring from the SAME
# artifact tables, so the gates pin the consumer algebra cross-engine.
# ---------------------------------------------------------------------------

PQ_SUBS = 8
PQ_SUB_DIM = 8      # 8 subspaces x 8 dims = d 64
PQ_K = 16           # codebook size per subspace (4-bit codes)
PQ_ITERS = 4
PQ_ARTIFACT_ROOT = os.path.join(_REPO_ROOT, "artifacts", "pq")
_PQ_CACHE: dict[str, dict] = {}


def pq_artifact_dir(sf_dir: str) -> str:
    return os.path.join(PQ_ARTIFACT_ROOT, _artifact_subdir(sf_dir))


PQ_ORACLE_DIR = pq_artifact_dir("/root/testdata/sf0.01")


def _pq_subvec(sub: int):
    """Column: the ``sub``-th 8-dim float subvector of ``embedding``."""
    return F.slice(F.col("embedding"), sub * PQ_SUB_DIM + 1, PQ_SUB_DIM)


def _pq_index(spark, sf_dir: str) -> dict[int, list]:
    """LOAD-first build-or-load of the PQ codebooks; returns
    {sub: [(cid, centroid), ...]}. Artifacts under artifacts/pq/<sf>/:
    ``centroids`` (sub, cid, centroid) and ``codes`` (vec_id, sub, cid).
    Freshness = corpus fingerprint carried by the codes table + the
    (PQ_SUBS, PQ_K) policy; a warm call runs ZERO k-means passes (same
    contract as _ivf_index). Fit: PQ_SUBS independent small k-means
    runs on the sliced subvectors, reusing _kmeans_fit (deterministic
    first-k init + decimal partial sums)."""
    from ..sources.fsutil import has_committed_data

    key = os.path.normpath(sf_dir)
    if key in _PQ_CACHE:
        return _PQ_CACHE[key]
    adir = pq_artifact_dir(sf_dir)
    cpath = os.path.join(adir, "centroids")
    kpath = os.path.join(adir, "codes")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cur_n, cur_s = _corpus_fingerprint(emb)
    cur_c = _vector_content_checksum(emb, vec_col="embedding")

    if has_committed_data(spark, cpath) and has_committed_data(spark, kpath):
        try:
            by_sub: dict[int, list] = {}
            for r in spark.read.parquet(cpath).collect():
                by_sub.setdefault(int(r["sub"]), []).append(
                    (int(r["cid"]), [float(x) for x in r["centroid"]])
                )
            code_fp = _corpus_fingerprint(spark.read.parquet(kpath))
            meta = spark.read.parquet(os.path.join(adir, "meta_fp")).first()
            if (
                meta is not None  # zero-row meta
                and meta["c"] == cur_c  # same ids, regenerated vectors ⇒ stale
                and code_fp == (PQ_SUBS * cur_n, PQ_SUBS * cur_s)
                and sorted(by_sub) == list(range(PQ_SUBS))
                and all(len(v) == PQ_K for v in by_sub.values())
            ):
                _PQ_CACHE[key] = {s: sorted(v) for s, v in by_sub.items()}
                return _PQ_CACHE[key]
        except _STALE_READ:
            pass

    books: dict[int, list] = {}
    for sub in range(PQ_SUBS):
        es = emb.select("vec_id", _pq_subvec(sub).alias("v"))
        books[sub] = sorted(_kmeans_fit(es, PQ_K, iters=PQ_ITERS))
    code_cols = [
        _kmeans_assign(books[sub], vec=_pq_subvec(sub)) for sub in range(PQ_SUBS)
    ]
    codes = emb.select(
        "vec_id", F.posexplode(F.array(*code_cols)).alias("sub", "cid")
    )
    cent = spark.createDataFrame(
        [
            (sub, int(cid), [float(x) for x in cv])
            for sub, book in books.items()
            for cid, cv in book
        ],
        "sub int, cid int, centroid array<double>",
    )
    fp = spark.createDataFrame([(int(cur_c),)], "c bigint")
    # meta_fp last, like every meta (see _fingerprinted_artifact)
    for p, df in ((cpath, cent), (kpath, codes),
                  (os.path.join(adir, "meta_fp"), fp)):
        _commit_artifact(spark, p, df)
    _PQ_CACHE[key] = books
    return books


def q_pq_encode(spark, sf_dir):
    """PQ encoding — every vector's nearest codebook entry per
    subspace, computed LIVE from the loaded codebooks as a narrow
    column expression (no shuffle; 100 TB encode is a map-only pass).
    The oracle recomputes the argmin from the centroids ARTIFACT with
    the identical left-to-right squared-L2 chain and ties-to-lowest-cid
    rule, so the gate pins the assignment algebra cross-engine — the
    codes artifact itself is written by this same expression."""
    books = _pq_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    code_cols = [
        _kmeans_assign(books[sub], vec=_pq_subvec(sub)) for sub in range(PQ_SUBS)
    ]
    return emb.select(
        "vec_id", F.posexplode(F.array(*code_cols)).alias("sub", "cid")
    ).select("vec_id", "sub", F.col("cid").cast("int").alias("cid"))


def _pq_dist_sql(vec_expr: str, cent: str = "centroid", sub: str = "c.sub") -> str:
    """Chained squared-L2 over one subspace, identical evaluation order
    to Spark's left fold (0.0 + t1 + t2 + ... — adding t1 to 0.0 is
    exact, so the chain equals the fold bit-for-bit)."""
    terms = [
        f"(CAST({vec_expr}[{sub} * {PQ_SUB_DIM} + {i}] AS DOUBLE) - {cent}[{i}])"
        f" * (CAST({vec_expr}[{sub} * {PQ_SUB_DIM} + {i}] AS DOUBLE) - {cent}[{i}])"
        for i in range(1, PQ_SUB_DIM + 1)
    ]
    return " + ".join(terms)


ORACLE_PQ_ENCODE = f"""
WITH c AS (SELECT * FROM read_parquet('{PQ_ORACLE_DIR}/centroids/*.parquet')),
d AS (
  SELECT e.vec_id, c.sub, c.cid, {_pq_dist_sql("e.embedding")} AS dist
  FROM embeddings e CROSS JOIN c
)
SELECT vec_id, sub, cid FROM (
  SELECT vec_id, sub, cid,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cid ASC) AS rn
  FROM d
) WHERE rn = 1
"""

EXT_QUERIES["pq_encode"] = q_pq_encode
EXT_ORACLES["pq_encode"] = ORACLE_PQ_ENCODE


def _pq_cent_literal_expr(books: dict[int, list]) -> str:
    """The full PQ codebook as ONE literal array<struct<sub,cid,c>>
    SQL expression (PQ_SUBS x PQ_K entries of PQ_SUB_DIM doubles —
    ~1k doubles, parsed JVM-side in one expr like _centroid_lit_sql;
    repr(float)+'D' round-trips bit-exactly). Embedding the codebook
    as a literal lets each query row build its ADC lookup table with
    explode+transform — NO join, NO shuffle, map-only."""
    entries = []
    for sub in sorted(books):
        for cid, cv in books[sub]:
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in cv) + ")"
            entries.append(
                f"named_struct('sub', {int(sub)}, 'cid', {int(cid)}, 'c', {arr})"
            )
    return "array(" + ",".join(entries) + ")"


def _pq_query_lut(queries, books: dict[int, list]):
    """(query_id, sub, cid, lut_d): per-query ADC lookup table from the
    literal codebook — map-only explode, distances rounded at 10."""
    ent = F.explode(F.expr(_pq_cent_literal_expr(books))).alias("e")
    exploded = queries.select("query_id", "qv", ent)
    lut_d = F.round(
        F.aggregate(
            F.zip_with(
                F.slice(
                    F.col("qv"),
                    F.col("e.sub") * PQ_SUB_DIM + 1,
                    F.lit(PQ_SUB_DIM),
                ),
                F.col("e.c"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, val: acc + val,
        ),
        10,
    )
    return exploded.select(
        "query_id",
        F.col("e.sub").alias("sub"),
        F.col("e.cid").alias("cid"),
        lut_d.alias("lut_d"),
    )


def q_ann_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance search: each query builds a PQ_SUBS x
    PQ_K lookup table of subspace distances ONCE (rounded at 10
    decimals so the only float math is per-query-constant), then every
    candidate scores as the DECIMAL sum of 8 table entries selected by
    its codes — the scan never touches a float vector (8 bytes/
    candidate of memory traffic; THE property that makes PQ the
    billion-vector scan format). Consumes the materialized codes
    artifact like a real deployment; top-3 per query with cand_id
    tie-break. The LUT is built map-only from the codebook embedded as a
    literal array (no join, no shuffle; swept)."""
    books = _pq_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    lut = _pq_query_lut(queries, books)
    codes = spark.read.parquet(os.path.join(pq_artifact_dir(sf_dir), "codes"))
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.col("lut_d").cast("decimal(38,10)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    order = [F.col("adc_dist").asc(), F.col("cand_id").asc()]
    top = top_k_per_group(scored, "query_id", order, 3, "rank", keep_rank=True)
    return top.select("query_id", "cand_id", "adc_dist", F.col("rank").cast("int"))


ORACLE_ANN_PQ_ADC = f"""
WITH c AS (SELECT * FROM read_parquet('{PQ_ORACLE_DIR}/centroids/*.parquet')),
codes AS (SELECT * FROM read_parquet('{PQ_ORACLE_DIR}/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
lut AS (
  SELECT q.query_id, c.sub, c.cid, round({_pq_dist_sql("q.qv")}, 10) AS lut_d
  FROM q CROSS JOIN c
),
scored AS (
  SELECT lut.query_id, codes.vec_id AS cand_id,
         CAST(CAST(SUM(CAST(lut_d AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS adc_dist
  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.cid = lut.cid
  WHERE codes.vec_id <> lut.query_id
  GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""

EXT_QUERIES["ann_pq_adc"] = q_ann_pq_adc
EXT_ORACLES["ann_pq_adc"] = ORACLE_ANN_PQ_ADC


PQ_SHORTLIST = 32


def _pq_exact_sub_dists(qv, cv):
    """Eight per-subspace exact squared-L2 columns between two full
    vectors (same left-fold kernel as the LUT), each rounded at 10 —
    summed in decimal by the caller so the total is order-proof."""
    cols = []
    for sub in range(PQ_SUBS):
        o = sub * PQ_SUB_DIM
        cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.slice(qv, o + 1, PQ_SUB_DIM),
                        F.slice(cv, o + 1, PQ_SUB_DIM),
                        # both inputs are float32 arrays: widen BEFORE
                        # subtracting or Spark does the whole kernel in
                        # fp32 while the oracle (CAST AS DOUBLE) does
                        # fp64 — the LUT kernel never hits this because
                        # its centroid side is already double
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, val: acc + val,
                ),
                10,
            )
        )
    return cols


def q_ann_pq_rescore(spark, sf_dir):
    """Two-stage PQ search — the shape a production ANN system ships:
    stage 1 shortlists PQ_SHORTLIST candidates per query from the
    8-byte codes alone (ADC, no float vectors touched); stage 2
    fetches ONLY the shortlist's float vectors by id and rescores
    exactly, returning the top-3. On this corpus raw ADC recall@3 is
    ~0.27 (iid vectors are PQ's worst case — quantization error swamps
    neighbor gaps); the rescore stage recovers whatever the shortlist
    retains while still scanning 8 bytes per candidate in stage 1 —
    the memory-traffic win PQ exists for. Exactness discipline: per-
    subspace distances are rounded at 10 and summed in DECIMAL, so
    both the shortlist boundary and the final ranking are
    engine-independent."""
    import functools
    import operator

    books = _pq_index(spark, sf_dir)  # ensures codes artifact exists
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    lut = _pq_query_lut(queries, books)
    codes = spark.read.parquet(os.path.join(pq_artifact_dir(sf_dir), "codes"))
    adc = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.col("lut_d").cast("decimal(38,10)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    order = [F.col("adc_dist").asc(), F.col("cand_id").asc()]
    shortlist = top_k_per_group(adc, "query_id", order, PQ_SHORTLIST, "__rn")
    cand_vecs = emb.select(
        F.col("vec_id").alias("__cid2"), F.col("embedding").alias("cv")
    )
    joined = (
        shortlist.join(cand_vecs, F.col("cand_id") == F.col("__cid2"))
        .join(F.broadcast(queries), "query_id")
    )
    sub_dists = _pq_exact_sub_dists(F.col("qv"), F.col("cv"))
    # decimal(20,10), NOT (38,10): adding two (38,10)s overflows the
    # 38-digit cap and Spark silently drops scale to compensate —
    # (20,10) leaves headroom for the 8-term chain to stay exact
    exact_d = (
        functools.reduce(
            operator.add, [c.cast("decimal(20,10)") for c in sub_dists]
        )
        .cast("double")
        .alias("exact_dist")
    )
    rescored = joined.select("query_id", "cand_id", exact_d)
    order = [F.col("exact_dist").asc(), F.col("cand_id").asc()]
    top = top_k_per_group(rescored, "query_id", order, 3, "rank", keep_rank=True)
    return top.select("query_id", "cand_id", "exact_dist", F.col("rank").cast("int"))


def _pq_rescore_chain_sql() -> str:
    """DECIMAL sum of the 8 per-subspace rounded exact distances
    between q.qv and e.embedding — mirrors _pq_exact_sub_dists."""
    subs = []
    for sub in range(PQ_SUBS):
        o = sub * PQ_SUB_DIM
        terms = " + ".join(
            f"(CAST(q.qv[{o + i}] AS DOUBLE) - CAST(e.embedding[{o + i}] AS DOUBLE))"
            f" * (CAST(q.qv[{o + i}] AS DOUBLE) - CAST(e.embedding[{o + i}] AS DOUBLE))"
            for i in range(1, PQ_SUB_DIM + 1)
        )
        subs.append(f"CAST(round({terms}, 10) AS DECIMAL(20,10))")
    return " + ".join(subs)


ORACLE_ANN_PQ_RESCORE = f"""
WITH c AS (SELECT * FROM read_parquet('{PQ_ORACLE_DIR}/centroids/*.parquet')),
codes AS (SELECT * FROM read_parquet('{PQ_ORACLE_DIR}/codes/*.parquet')),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
lut AS (
  SELECT q.query_id, c.sub, c.cid, round({_pq_dist_sql("q.qv")}, 10) AS lut_d
  FROM q CROSS JOIN c
),
adc AS (
  SELECT lut.query_id, codes.vec_id AS cand_id,
         CAST(CAST(SUM(CAST(lut_d AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS adc_dist
  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.cid = lut.cid
  WHERE codes.vec_id <> lut.query_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {PQ_SHORTLIST}
),
rescored AS (
  SELECT s.query_id, s.cand_id,
         CAST(CAST(({_pq_rescore_chain_sql()}) AS VARCHAR) AS DOUBLE) AS exact_dist
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.cand_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, cand_id, exact_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY exact_dist ASC, cand_id ASC) AS rank
  FROM rescored
) WHERE rank <= 3
"""

EXT_QUERIES["ann_pq_rescore"] = q_ann_pq_rescore
EXT_ORACLES["ann_pq_rescore"] = ORACLE_ANN_PQ_RESCORE


def q_knn_graph_ivf(spark, sf_dir):
    """k-NN GRAPH BUILD over the WHOLE corpus (top-3 neighbors for
    EVERY vector, not 10 fixed queries): the input of graph-based
    semantic clustering and of graph-ANN indexes. Candidates come from
    the IVF blocks — both sides join the materialized assignment on
    the list id, so candidate pairs are O(n·block_width), linear with
    the corpus-scaled k policy (never O(n²)); the per-vector top-3 is
    one window over the blocked pairs.

    vs ``ann_ivf_topk``: the query side is the full corpus, so nothing
    broadcasts — both sides shuffle once on the block id and the
    window shuffles on query_id. At 100 TB those are the exact two
    exchanges a kNN-graph build must pay; recall follows the IVF
    nprobe=1 contract (raise via multiprobe if the graph consumer
    needs it)."""
    asg = _ivf_assignments(spark, sf_dir)
    q = (
        _vectors(spark, sf_dir, "query_id", "qv", "qn")
        .drop("label")
        .join(asg, F.col("query_id") == asg["vec_id"])
        .select("query_id", "qv", "qn", F.col("cid").alias("qlabel"))
    )
    cand = (
        _vectors(spark, sf_dir, "cand_id", "cv", "cn")
        .drop("label")
        .join(_ivf_assignments(spark, sf_dir), F.col("cand_id") == F.col("vec_id"))
        .select("cand_id", "cv", "cn", F.col("cid").alias("clabel"))
    )
    scored = (
        q.join(cand, F.col("qlabel") == F.col("clabel"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
        )
    )
    return _cos_topk(scored, 3)


ORACLE_KNN_GRAPH_IVF = f"""
WITH a AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, qa.cid AS qcid
      FROM embeddings e JOIN a qa ON qa.vec_id = e.vec_id),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q JOIN a ca ON ca.cid = q.qcid
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""

EXT_QUERIES["knn_graph_ivf"] = q_knn_graph_ivf
EXT_ORACLES["knn_graph_ivf"] = ORACLE_KNN_GRAPH_IVF


def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT similarity join via PREFIX FILTERING (the PPJoin family) —
    all pairs with Jaccard >= 0.2 with NO false negatives and NO
    quadratic stage, closing the gap between the two existing paths:
    ``dedup_ngram_jaccard`` (exact but circuit-breaker-guarded — its
    shingle self-join fans out on hot shingles) and
    ``dedup_lsh_verified`` (scalable but probabilistic recall).

    Prefix principle: order every document's shingles by GLOBAL rarity
    (document frequency asc, shingle asc). If J(A,B) >= τ then their
    required overlap t >= ⌈τ·|A|⌉ and >= ⌈τ·|B|⌉, and two sets with
    overlap >= t MUST share a token inside both their
    (|x| − t + 1)-prefixes under any common global order (the smallest
    common token c cannot be outside A's prefix — the prefix tokens
    ranked before c would all be missing from B, capping the overlap
    at |A| − π(A) = ⌈τ|A|⌉ − 1 < t; symmetrically for B). So joining
    PREFIXES ONLY on the shingle yields a candidate superset, and the
    exact Jaccard verification on candidates alone reproduces the full
    all-pairs result — which is why this query's oracle IS the plain
    exact-join SQL.

    ⌈τ·n⌉ is computed in INTEGER arithmetic ((n + 4) div 5 for
    τ = 1/5): an IEEE 0.2·n can land a hair ABOVE the true product
    (0.2·15 = 3.0000000000000004 → ceil 4) which would SHORTEN the
    prefix below the safe length — a float-rounding false-negative
    class the integer form eliminates.

    100 TB notes: df is one map-side-combinable aggregate; the rank
    window partitions by doc (never global); candidate generation
    joins only prefix rows — rare shingles by construction, so the
    per-shingle fan-out is tiny and hot shingles sit in SUFFIXES where
    they generate nothing; verification touches candidate pairs only.
    A size filter (τ·|A| <= |B|) rides the verify join for free via
    the Jaccard threshold itself. Pair machinery lives in
    operators/similarity.py::jaccard_join_prefix (completeness
    property-tested against brute force on random token sets)."""
    from ..operators.similarity import jaccard_join_prefix

    return jaccard_join_prefix(
        _doc_shingles(spark, sf_dir), threshold_num=1, threshold_den=5
    )


EXT_QUERIES["dedup_jaccard_prefix"] = q_dedup_jaccard_prefix
EXT_ORACLES["dedup_jaccard_prefix"] = ORACLE_DEDUP_NGRAM_JACCARD


# ---------------------------------------------------------------------------
# Multimodal RESIZE plumbing (completes decode/extract/resize/sample)
# ---------------------------------------------------------------------------

RESIZE_STRIDE = 4  # keep every 4th sample — a 4x "downscale"


def _resize_payload(doc_id, payload: bytes):
    text = payload.decode("utf-8")  # the "decode" stage
    resized = text[::RESIZE_STRIDE]
    return [
        (doc_id, len(text), len(resized), hashlib.md5(resized.encode("utf-8")).hexdigest())
    ]


def q_multimodal_resize(spark, sf_dir):
    """Multimodal RESIZE plumbing: the downscale stage of an
    image/audio pipeline as an Arrow-batched mapInPandas — decode the
    binary payload (utf-8 stand-in; real byte-level decode is proven
    by ``multimodal_decode_bmp``/``_wav``),
    subsample every RESIZE_STRIDE-th sample (the 1-D analogue of
    nearest-neighbor downscaling; a real image resize is the same
    shape with a 2-D stride over W×H), and emit resized dims + a
    digest of the resized content so the oracle validates the output
    byte-for-byte. Completes the multimodal family the pipeline
    needs: decode (stubbed codec) / feature-extract
    (multimodal_extract) / RESIZE (this) / frame-sample
    (multimodal_frame_sample).

    100 TB notes: map-only — payloads stay in Arrow batches off-heap,
    no shuffle, output is metadata+digest (bytes never leave the
    executor); a real resize would write the resized binary back to a
    payload column in the same batch shape."""
    return _payload_rows(
        _utf8_payloads(spark, sf_dir),
        _resize_payload,
        "doc_id long, orig_len long, resized_len long, resized_md5 string",
    )


# '(.).{0,3}' replaced by group 1 == text[::4]: each match consumes one
# kept char plus up to 3 dropped ones (greedy), so partial tail blocks
# keep their first char exactly like Python slicing. Corpus is
# newline-free ASCII (asserted in tests), so '.' never skips input.
ORACLE_MULTIMODAL_RESIZE = r"""
WITH r AS (
  SELECT doc_id, text,
         regexp_replace(text, '(.).{0,3}', '\1', 'g') AS resized
  FROM documents
)
SELECT doc_id,
       length(text)::BIGINT AS orig_len,
       length(resized)::BIGINT AS resized_len,
       md5(resized) AS resized_md5
FROM r
"""

EXT_QUERIES["multimodal_resize"] = q_multimodal_resize
EXT_ORACLES["multimodal_resize"] = ORACLE_MULTIMODAL_RESIZE


# ---------------------------------------------------------------------------
# Distributed BPE merge learning — tokenizer prep for LLM pipelines
# ---------------------------------------------------------------------------

BPE_N_MERGES = 8
# symbol separator: unit separator, absent from the ASCII corpus
# (asserted in tests); shared by the learn oracle and the apply gate
BPE_SEP = "\x1f"


def q_bpe_learn_merges(spark, sf_dir):
    """DISTRIBUTED BPE TOKENIZER TRAINING (the merge-learning loop of
    Sennrich-style byte-pair encoding): start from characters, repeat
    "count adjacent symbol pairs weighted by word frequency, merge the
    most frequent pair corpus-wide" for N rounds. Output: the learned
    merge table (round, left, right, merged, pair_count) — exactly
    what a tokenizer ships as merges.txt.

    Spark-first per round:
      1. pair counts — arrays_zip(sym, sym[1:]) explode → ONE
         map-side-combinable aggregate over the DISTINCT-WORD table
         (|vocab| rows, not |corpus| — word frequency carries the
         weight, the standard BPE factorization);
      2. argmax pair — TakeOrdered(1) with (count DESC, left, right)
         tie-break so the merge sequence is deterministic; O(1) rows
         to the driver (same bounded-metadata discipline as the
         k-means seeds);
      3. merge — a single JVM-side F.aggregate fold over each symbol
         array (greedy left-to-right, non-overlapping — 'aaa' under
         (a,a) folds to [aa, a]), then localCheckpoint so round plans
         stay constant-size (the connected_components lineage lesson).

    Oracle: the loop is data-dependent per round but the ROUND COUNT
    is a constant — so the DuckDB oracle UNROLLS all 8 rounds as
    chained CTEs (pair-count CTE → argmax CTE with the identical
    (count DESC, left, right) tie-break → fold CTE), the same
    unrolling trick the PageRank oracle uses. The fold is the proven
    two-pass separator-replace from ``bpe_tokenize_apply`` — exact
    for a != b merges (this corpus's learned merges are all a != b;
    an a == b run-merge would diverge LOUDLY as a hash mismatch, and
    the pure-Python reference BPE in tests/test_featureops.py pins
    the sequence independently of both engines).

    100 TB notes: the corpus-size pass happens ONCE (word frequency);
    every round after that runs on the distinct-word table (vocab ≪
    corpus, Heaps' law), pair counting is partial-aggregated map-side,
    and the fold is whole-stage-codegen array work — no Python in the
    loop. Round count is the tokenizer's hyperparameter (30-50k in
    production), independent of data size."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(F.expr(TOKENS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.expr("transform(split(w, ''), c -> c)").alias("sym"),
        )
        .filter(F.size("sym") >= 2)
        # lazy: the round-1 pair-count job is the first action and
        # materializes this checkpoint as its input — same work, one
        # fewer job (r12-opt, guide §1.2: the loop's wall-clock is
        # jobs × stage-schedule cost, not data)
        .localCheckpoint(eager=False)
    )

    merges = []
    cur = words
    for rnd in range(1, BPE_N_MERGES + 1):
        pairs = (
            cur.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(sym, 1, size(sym) - 1)"),
                        F.expr("slice(sym, 2, size(sym) - 1)"),
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p")["0"].alias("left"), F.col("p")["1"].alias("right")
            )
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.desc("pair_count"), F.asc("left"), F.asc("right")
        ).first()
        if top is None:
            break
        a, b = top["left"], top["right"]
        merges.append((rnd, a, b, a + b, int(top["pair_count"])))
        la, lb = F.lit(a), F.lit(b)
        folded = F.aggregate(
            F.col("sym"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (x == lb),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.concat(la, lb)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        # lazy checkpoint: round r+1's argmax job materializes round
        # r's fold as its input (2 jobs/round → 1); the final round's
        # fold is never materialized at all — its merge row is already
        # on the driver. Plans stay constant-size either way (the
        # checkpoint still truncates lineage at materialization).
        # INVARIANT (what makes eager=False safe): every round issues
        # exactly ONE action — the argmax .first() above — and that
        # action computes ALL partitions of the prior round's marked
        # RDD (a global orderBy), so each lazy checkpoint is fully
        # materialized before the next fold builds on it. Adding a
        # second per-round action or an early exit before the argmax
        # would silently re-grow lineage across rounds.
        cur = cur.select("freq", folded.alias("sym")).localCheckpoint(
            eager=False
        )

    return spark.createDataFrame(
        merges,
        "round int, left string, right string, merged string, "
        "pair_count bigint",
    )


def _bpe_learn_oracle() -> str:
    """DuckDB oracle for the merge-learning loop: the 8 rounds UNROLL
    as chained CTE triples — p{r} (pair counts from the previous fold
    state), t{r} (argmax with the identical count-DESC/left/right
    tie-break), w{r} (two-pass separator-replace fold of t{r}'s pair,
    exact for a != b merges — `BPE_APPLY_MERGES` note). The oracle
    derives every merge from the DATA, independently of the Spark
    loop, so the whole sequence is hash-pinned cross-engine."""
    sep = BPE_SEP
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT COUNT(*) AS freq,
         '{sep}' || array_to_string(string_split_regex(w, ''), '{sep}')
           || '{sep}' AS s
  FROM (SELECT unnest({TOKENS_DUCK}) AS w FROM documents)
  GROUP BY w
  HAVING length(w) >= 2
)"""
    ]
    for r in range(1, BPE_N_MERGES + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT p.a AS "left", p.b AS "right", SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_transform(range(1, length(l)),
                                 i -> {{'a': l[i], 'b': l[i+1]}})) AS p
    FROM (SELECT freq, string_split(trim(s, '{sep}'), '{sep}') AS l
          FROM {prev})
  )
  GROUP BY 1, 2
)""")
        ctes.append(f"""t{r} AS MATERIALIZED (
  SELECT {r} AS round, "left", "right", "left" || "right" AS merged,
         CAST(pair_count AS BIGINT) AS pair_count
  FROM p{r} ORDER BY pair_count DESC, "left", "right" LIMIT 1
)""")
        rep = "s"
        for _ in range(2):  # two passes: see BPE_APPLY_MERGES a != b note
            rep = (
                f"replace({rep}, '{sep}' || (SELECT \"left\" FROM t{r}) || "
                f"'{sep}' || (SELECT \"right\" FROM t{r}) || '{sep}', "
                f"'{sep}' || (SELECT merged FROM t{r}) || '{sep}')"
            )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT freq, {rep} AS s FROM {prev})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM t{r}" for r in range(1, BPE_N_MERGES + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


EXT_QUERIES["bpe_learn_merges"] = q_bpe_learn_merges
EXT_ORACLES["bpe_learn_merges"] = _bpe_learn_oracle()


# ---------------------------------------------------------------------------
# Entity-resolution clusters — match pairs → transitive-closure entities
# ---------------------------------------------------------------------------

# Shared ER match-pair artifact: the blocked + edit-distance-verified
# edge list, built once per corpus and LOADED by the clustering step —
# the same load-first + corpus-fingerprint discipline as
# artifacts/lsh_edges (round-6 verdict item 3). ``entity_match_pairs``
# itself stays a LIVE computation: it is the pair list's definition and
# its gate keeps proving the pipeline, not the artifact.

ER_EDGES_ROOT = os.path.join(_REPO_ROOT, "artifacts", "er_edges")
_ER_EDGES_CACHE: dict[str, tuple] = {}  # sf key → (checked path, schema)


def er_edges_dir(sf_dir: str) -> str:
    return os.path.join(ER_EDGES_ROOT, _artifact_subdir(sf_dir))


def _customer_fingerprint(spark, sf_dir: str):
    """(row count, custkey checksum, name checksum) — the match pairs
    depend on c_name via the edit distance, so the name column is part
    of the corpus identity (unlike the LSH doc fingerprint, where the
    text reaches the artifact only through doc_id-stable shingles)."""
    r = (
        _t(spark, sf_dir, "customer")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").alias("s"),
            F.sum(F.crc32(F.col("c_name"))).alias("h"),
        )
        .first()
    )
    return int(r["n"] or 0), int(r["s"] or 0), int(r["h"] or 0)


def _er_edges(spark, sf_dir: str) -> DataFrame:
    """LOAD-first (left_id, right_id) verified match-pair list under
    ``artifacts/er_edges/<sf>/``. Steady state: one meta read + one
    fingerprint aggregate, then a plain parquet scan — the Σ block²
    Levenshtein pass runs only when the customer table changed (see
    ``_fingerprinted_artifact``)."""
    return _fingerprinted_artifact(
        spark, er_edges_dir(sf_dir), _ER_EDGES_CACHE, sf_dir, "edges",
        lambda: dict(zip("nsh", _customer_fingerprint(spark, sf_dir))),
        lambda: q_entity_match_pairs(spark, sf_dir).select("left_id", "right_id"),
    )


def q_entity_resolution_clusters(spark, sf_dir):
    """ENTITY RESOLUTION step 2: the match pairs from
    ``entity_match_pairs`` (blocked + edit-distance-verified) become
    canonical ENTITIES via transitive closure — A≈B and B≈C put A,B,C
    in one entity even when A,C never compared (different blocks or
    distance > threshold). Same ``connected_components`` engine as the
    dedup cluster family (parquet lineage cut per round, multi-phase
    propagation, monotone-sum convergence); the canonical key is the
    smallest member custkey, the survivor rule a downstream golden-
    record merge uses. Oracle: the literal match SQL + a recursive-CTE
    transitive closure.

    100 TB notes: everything after the (blocked, Σ block², plan-swept)
    pair pass is equi-join/groupBy on the match graph — which is tiny
    relative to the input (matches are rare); rounds scale with
    component diameter, ~O(log n) under the multi-phase loop. The pair
    pass itself is artifact-cached (``_er_edges``): warm runs load the
    edge list from parquet and never re-run the Levenshtein join.

    Loop tuning: name-match components are near-cliques (members are
    all within edit distance ~2·ENTITY_MAX_EDIT of each other), so the
    component diameter is tiny and pointer jumping buys nothing —
    jumps=0 halves the per-phase stage count (measured 2.9 s → 1.7 s
    at sf0.1). Six propagation hops per round × 25 rounds is far past
    any name-chain this matcher can produce; if a corpus ever did
    overrun it, convergence failure raises and the default jumping
    configuration is retried — never a silently under-merged result."""
    from ..operators.graph import connected_components

    pairs = _er_edges(spark, sf_dir)
    try:
        labels = connected_components(
            pairs,
            "left_id",
            "right_id",
            symmetrize=True,
            phases_per_round=6,
            jumps_per_phase=0,
            # the match-pair list is the load-first artifact parquet —
            # skip CC's up-front edge round-trip
            input_materialized=True,
        )
    except RuntimeError:  # deep-chain corpus: fall back to jumping
        labels = connected_components(
            pairs, "left_id", "right_id", symmetrize=True,
            input_materialized=True,
        )
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("entity_size"),
        F.min("node").alias("canonical_custkey"),
    ).select(
        F.col("label").alias("entity_id"), "entity_size", "canonical_custkey"
    )


ORACLE_ENTITY_RESOLUTION_CLUSTERS = f"""
WITH matched AS (
  SELECT a.c_custkey AS left_id, b.c_custkey AS right_id
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {ENTITY_MAX_EDIT}
),
edges AS (
  SELECT left_id AS a, right_id AS b FROM matched
  UNION SELECT right_id, left_id FROM matched
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT walk.src, e.b FROM walk JOIN edges e ON walk.dst = e.a
  )
  SELECT src, dst FROM walk
),
labels AS (
  SELECT n.node, least(n.node, min(tc.dst)) AS label
  FROM nodes n LEFT JOIN tc ON tc.src = n.node
  GROUP BY n.node
)
SELECT label AS entity_id,
       COUNT(*) AS entity_size,
       min(node) AS canonical_custkey
FROM labels GROUP BY label
"""

EXT_QUERIES["entity_resolution_clusters"] = q_entity_resolution_clusters
EXT_ORACLES["entity_resolution_clusters"] = ORACLE_ENTITY_RESOLUTION_CLUSTERS


# ---------------------------------------------------------------------------
# BPE tokenization (inference): apply a fixed merge list
# ---------------------------------------------------------------------------

# A tokenizer ships its learned merges as a static artifact
# (merges.txt); applying them is the data-independent half of BPE, so
# the gate parameterizes on a FIXED priority-ordered list (incl. two
# second-order merges consuming earlier outputs) and the oracle
# replays the identical sequence.
BPE_APPLY_MERGES = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("t", "h"),
    ("th", "e"), ("a", "n"), ("o", "n"), ("er", "s"),
]
# left != right for every merge => (a,b) adjacencies are pairwise
# disjoint, so the greedy fold's merge set is the UNIQUE maximal set
# and TWO replace passes per rule reach it (pass 1 can skip an
# occurrence whose leading separator was consumed by the previous
# match in a chain like "onon"; the survivors are isolated after pass
# 1, so pass 2 gets them all). a == b (run) merges would need the
# explicit fold.
assert all(a != b for a, b in BPE_APPLY_MERGES)


def q_bpe_tokenize_apply(spark, sf_dir):
    """BPE TOKENIZATION (the inference side of ``bpe_learn_merges``):
    fold each word's characters through a fixed priority-ordered merge
    list — per merge one greedy left-to-right non-overlapping pass,
    exactly Sennrich apply order. Output per document: character count,
    token count after merging, and the chars-per-token compression
    ratio a tokenizer budget planner needs.

    Spark-first: the word is a separator-joined symbol string and each
    merge is TWO ``replace(sep+a+sep+b+sep -> sep+ab+sep)`` passes —
    for a != b the (a,b) adjacencies are pairwise disjoint, so the
    greedy fold's merge set is the unique maximal one and two
    left-to-right replace passes provably reach it (one pass alone
    under-merges chains like "onon" whose occurrences share a
    separator — caught by the property test's random fuzzing). All 16
    replaces chain inside a single projection — whole-stage codegen,
    zero shuffles before the final per-doc aggregate, zero Python.

    100 TB notes: map-only until one map-side-combinable aggregate on
    doc_id; the merge list is a plan literal (in production: generate
    the expression from the merges.txt artifact — 30-50k merges would
    instead use a trie-based Pandas UDF, the documented escape
    hatch)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("w")
    )
    sep = BPE_SEP
    sym = F.concat(
        F.lit(sep),
        F.array_join(F.expr("transform(split(w, ''), c -> c)"), sep),
        F.lit(sep),
    )
    for a, b in BPE_APPLY_MERGES:
        for _ in range(2):  # see BPE_APPLY_MERGES a != b note
            sym = F.replace(
                sym, F.lit(f"{sep}{a}{sep}{b}{sep}"), F.lit(f"{sep}{a}{b}{sep}")
            )
    n_sym = F.size(F.split(F.expr(f"trim(BOTH '{sep}' FROM __sym)"), sep))
    return (
        words.select(
            "doc_id", F.length("w").alias("n_chars"), sym.alias("__sym")
        )
        .select("doc_id", "n_chars", n_sym.alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars").alias("n_chars"),
            F.sum("n").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_chars") / F.sum("n"), 6
            ).alias("chars_per_token"),
        )
    )


def _bpe_apply_oracle() -> str:
    sep = BPE_SEP
    expr = (
        f"'{sep}' || array_to_string("
        f"string_split_regex(w, ''), '{sep}') || '{sep}'"
    )
    for a, b in BPE_APPLY_MERGES:
        for _ in range(2):
            expr = (
                f"replace({expr}, '{sep}{a}{sep}{b}{sep}', '{sep}{a}{b}{sep}')"
            )
    return f"""
WITH words AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS w FROM documents
),
toks AS (
  SELECT doc_id, length(w) AS n_chars,
         length(string_split(trim({expr}, '{sep}'), '{sep}')) AS n
  FROM words
)
SELECT doc_id, SUM(n_chars) AS n_chars, SUM(n) AS n_bpe_tokens,
       round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n), 6) AS chars_per_token
FROM toks GROUP BY 1
"""


EXT_QUERIES["bpe_tokenize_apply"] = q_bpe_tokenize_apply
EXT_ORACLES["bpe_tokenize_apply"] = _bpe_apply_oracle()


# ---------------------------------------------------------------------------
# Deterministic ordered array aggregation — event sequences per user
# ---------------------------------------------------------------------------

SEQ_PREFIX_LEN = 5


def q_user_event_sequences(spark, sf_dir):
    """ORDERED ARRAY AGGREGATION: each user's first 5 event types in
    (ts, event_id) order as an array column — the sequence-feature
    extraction a behavioral model consumes. collect_list is
    ORDER-NONDETERMINISTIC on a distributed engine (partition arrival
    order), so the discipline is: collect structs of
    (sort_key..., payload), sort_array ONCE, then project the payload
    — bit-deterministic under any partitioning. (ts, event_id) is a
    total order so both engines build the identical sequence.

    100 TB notes: one map-side-combinable aggregate on user_id; arrays
    are bounded by the slice, and the struct sort is per-group local
    work."""
    from .core import _events

    ev = _events(spark, sf_dir)
    seq = F.slice(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts").cast("long").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("y"),
                    )
                )
            ),
            lambda s: s["y"],
        ),
        1,
        SEQ_PREFIX_LEN,
    )
    return ev.groupBy("user_id").agg(
        seq.alias("first_events"),
        F.count(F.lit(1)).alias("n_events"),
    )


EXT_ORACLES["user_event_sequences"] = f"""
SELECT user_id,
       (list(event_type ORDER BY {_epoch_sql('ts')}, event_id))[1:{SEQ_PREFIX_LEN}]
         AS first_events,
       count(*) AS n_events
FROM events GROUP BY 1
"""
EXT_QUERIES["user_event_sequences"] = q_user_event_sequences


# ---------------------------------------------------------------------------
# BFS distance over the near-dup graph — bounded multi-hop reach
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 4
BFS_SEED_MOD = 50  # seed set: doc_id % 50 == 0


def q_graph_bfs_distance(spark, sf_dir):
    """MULTI-SOURCE BFS over the verified near-dup graph: hop distance
    (<= 4) from the seed set {doc_id % 50 == 0} — the "contamination
    radius" query (which documents sit within k merge-hops of a known
    bad/benchmark doc?) that turns pairwise dedup evidence into a
    transitive blocklist. Frontier expansion: distance table starts at
    the seeds, each hop is ONE equi-join frontier⋈edges + min-groupBy
    against the known table — never a transitive-closure
    materialization (the oracle's recursive CTE does exactly that,
    which is fine for DuckDB at test scale and fatal at 100 TB; the
    Spark loop is the scale form with O(hops) rounds and
    frontier-sized state). Same lineage discipline as
    connected_components: edges materialized once, per-hop
    localCheckpoint (4 bounded hops, not a convergence loop).

    Output: (doc_id, dist) for every reachable doc within the bound —
    unreachable docs are absent (a production blocklist join is a
    LEFT SEMI against this table)."""
    edges = _lsh_edges(spark, sf_dir).select("doc_a", "doc_b")
    edges = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint()
    nodes = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    dist = nodes.filter(
        F.col("doc_id") % BFS_SEED_MOD == 0
    ).select("doc_id", F.lit(0).alias("dist"))
    frontier = dist
    for hop in range(1, BFS_MAX_HOPS + 1):
        reached = (
            frontier.join(edges, frontier.doc_id == edges.doc_a)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .join(dist, "doc_id", "left_anti")
            .select("doc_id", F.lit(hop).alias("dist"))
            .localCheckpoint()
        )
        if reached.isEmpty():
            break
        dist = dist.unionByName(reached).localCheckpoint()
        frontier = reached
    return dist


ORACLE_GRAPH_BFS_DISTANCE = f"""
WITH {{ctes}},
{{verified}},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
walk AS (
  WITH RECURSIVE w(node, d) AS (
    SELECT node, 0 FROM nodes WHERE node % {BFS_SEED_MOD} = 0
    UNION
    SELECT e.b, w.d + 1 FROM w JOIN edges e ON w.node = e.a
    WHERE w.d < {BFS_MAX_HOPS}
  )
  SELECT node, d FROM w
)
SELECT node AS doc_id, min(d) AS dist
FROM walk GROUP BY node
"""

EXT_QUERIES["graph_bfs_distance"] = q_graph_bfs_distance
EXT_ORACLES["graph_bfs_distance"] = ORACLE_GRAPH_BFS_DISTANCE.format(
    ctes=_lsh_ctes(), verified=_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)
)


# ---------------------------------------------------------------------------
# Streaming incremental EXACT distinct via bitmap OR-merge
# ---------------------------------------------------------------------------


def q_streaming_bitmap_distinct(spark, sf_dir):
    """STREAMING EXACT DISTINCT maintained incrementally: each
    micro-batch reduces to per-(event_type, bucket) BITMAPS
    (bitmap_construct_agg over bitmap_bit_position) and OR-merges them
    into a manifest-committed bitmap store — the streaming realization
    of ``bitmap_count_distinct``'s storable-increment claim. Final
    answer = SUM of per-bucket bitmap_count, which must equal the
    plain COUNT(DISTINCT) over the whole feed (the SQL oracle).

    Batch-order/partitioning invariance is structural: bitmap OR is
    commutative, associative and idempotent, so duplicate users across
    micro-batches, replayed batches, and any arrival order all
    converge to the same store — exactly why this beats keeping raw
    distinct values in stream state (bounded: ≤ 4 KB per bucket
    however many events arrive; dropDuplicates state grows with
    distinct count and needs a watermark to bound it).

    100 TB notes: per batch ONE map-side-combinable aggregate over the
    batch + an OR-merge against only the store's matching
    (type, bucket) rows; the store is id-space-bounded, not
    corpus-bounded."""
    from ..operators.sketches import (
        bitmap_counts_from_store,
        bitmap_or_merge_sink,
    )
    from ..sources.fsutil import scratch_dir

    gate = "streaming_bitmap_distinct"
    scratch = scratch_dir(gate)
    ev = _stream_table(spark, sf_dir, "events", gate, root=scratch)
    ev = ev.select("event_type", "user_id")
    root = os.path.join(scratch, "bitmaps")
    sink = bitmap_or_merge_sink(spark, root, ["event_type"], "user_id")
    q = (
        ev.writeStream.foreachBatch(timed_foreach(gate, sink))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return bitmap_counts_from_store(spark, root, ["event_type"]).withColumnRenamed(
        "n_distinct", "n_distinct_users"
    )


ORACLE_STREAMING_BITMAP_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY 1
"""

EXT_QUERIES["streaming_bitmap_distinct"] = q_streaming_bitmap_distinct
EXT_ORACLES["streaming_bitmap_distinct"] = ORACLE_STREAMING_BITMAP_DISTINCT


# ---------------------------------------------------------------------------
# Z-order layout — multi-dimensional clustering key (SURVEY §3 /
# 100 TB-efficiency surface; file-skipping evidence in
# tests/test_layout.py via operators/layout.py)
# ---------------------------------------------------------------------------

ZCELL_BITS = 6  # 64 buckets per dimension for the gate (operator: 12)


def q_zorder_cells(spark, sf_dir):
    """Z-ORDER CLUSTERING KEY, hash-gated: rank-bucketize (user_id, ts)
    into 2^6 equal-frequency buckets each (deterministic total order —
    ties broken by event_id), Morton-interleave the bucket ids
    (``sources.layout.interleave_bits``), and aggregate per top-8-bit
    curve cell. The oracle reproduces the bit arithmetic integer-for-
    integer in DuckDB, so the gate pins the interleave itself.

    Equal-FREQUENCY buckets, unlike min/max normalization, are
    skew-robust (a hot key cannot capture every cell), at the cost of
    a global window — at real scale swap in approxQuantile-derived
    boundaries (one pass, no window) with the same interleave
    downstream. The aggregate is map-side combinable on a 64-bit key."""
    from pyspark.sql import Window

    from ..sources.layout import interleave_bits
    from .core import _dsum, _events

    n = 1 << ZCELL_BITS
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts").cast("long").alias("t"), "value"
    )
    wx = Window.orderBy("user_id", "event_id")
    wy = Window.orderBy("t", "event_id")
    keyed = (
        ev.withColumn("bx", F.ntile(n).over(wx) - 1)
        .withColumn("by", F.ntile(n).over(wy) - 1)
        .withColumn(
            "zkey", interleave_bits(F.col("bx"), F.col("by"), ZCELL_BITS)
        )
    )
    return (
        keyed.groupBy(
            F.shiftright(F.col("zkey"), 2 * ZCELL_BITS - 8).alias("zcell")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum(F.col("value")).alias("sum_value"),
        )
    )


def _zkey_sql(bx: str, by: str, bits: int) -> str:
    """The identical Morton interleave as integer SQL (bit positions
    are disjoint, so + == |)."""
    terms = [
        f"((({bx} >> {i}) & 1) << {2 * i}) + ((({by} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


from .core import dsum_sql as _dsum_sql  # noqa: E402

ORACLE_ZORDER_CELLS = f"""
WITH keyed AS (
  SELECT user_id, value,
         ntile({1 << ZCELL_BITS}) OVER (ORDER BY user_id, event_id) - 1 AS bx,
         ntile({1 << ZCELL_BITS}) OVER (ORDER BY {_epoch_sql()}, event_id) - 1 AS by
  FROM events
)
SELECT {_zkey_sql('bx', 'by', ZCELL_BITS)} >> {2 * ZCELL_BITS - 8} AS zcell,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {_dsum_sql("value")} AS sum_value
FROM keyed GROUP BY 1
"""

EXT_QUERIES["zorder_cells"] = q_zorder_cells
EXT_ORACLES["zorder_cells"] = ORACLE_ZORDER_CELLS


# ---------------------------------------------------------------------------
# IVF incremental maintenance drift gate
# ---------------------------------------------------------------------------


def q_ivf_increment_drift(spark, sf_dir):
    """The DRIFT TABLE ``ivf_assign_increment`` produces for a
    deterministic append batch (the first 100 corpus vectors under new
    ids — in-distribution, so every refit flag is false and every
    ratio ≈ 1). Hash-gated: the DuckDB oracle recomputes the batch's
    nearest-centroid distances from the MATERIALIZED index parquet
    (centroids + list_stats) with the same 6-dp rounding and
    ties-to-lowest-cid rule, so the whole maintenance arithmetic —
    assignment, per-list aggregation, baseline join, ratio, flag — is
    pinned cross-engine."""
    batch = (
        _spread(spark, _t(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") < 100)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    _, drift = ivf_assign_increment(spark, sf_dir, batch)
    return drift


ORACLE_IVF_INCREMENT_DRIFT = f"""
WITH cent AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/centroids/*.parquet')),
stats AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/list_stats/*.parquet')),
batch AS (
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 100
),
scored AS (
  SELECT b.vec_id, c.cid,
         list_sum([(z[1] - z[2]) * (z[1] - z[2])
                   FOR z IN list_zip(b.v, c.centroid)]) AS d
  FROM batch b CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid, round(d, 6) AS sqdist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
agg AS (
  SELECT cid, COUNT(*) AS n_new, round(avg(sqdist), 6) AS mean_sqdist_new
  FROM assigned GROUP BY 1
),
gstat AS (
  SELECT greatest(
           round(CAST(CAST(SUM(CAST(mean_sqdist_build AS DECIMAL(38,10))
                               * n_build) AS VARCHAR) AS DOUBLE)
                 / CAST(SUM(n_build) AS DOUBLE), 6) * 1e-3,
           1e-12) AS eps
  FROM stats
)
SELECT a.cid, a.n_new, a.mean_sqdist_new, s.n_build, s.mean_sqdist_build,
       round(a.mean_sqdist_new / greatest(s.mean_sqdist_build, g.eps), 4)
         AS drift_ratio,
       (s.mean_sqdist_build IS NULL
        OR a.mean_sqdist_new > greatest(s.mean_sqdist_build, g.eps) * 2.0)
         AS refit
FROM agg a LEFT JOIN stats s ON s.cid = a.cid CROSS JOIN gstat g
"""

EXT_QUERIES["ivf_increment_drift"] = q_ivf_increment_drift
EXT_ORACLES["ivf_increment_drift"] = ORACLE_IVF_INCREMENT_DRIFT


# ---------------------------------------------------------------------------
# Hybrid retrieval — BM25 ∪ dense cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP_N = 15


def q_hybrid_search_rrf(spark, sf_dir):
    """HYBRID RETRIEVAL: fuse the lexical ranking (Okapi BM25 top-20,
    ``q_bm25_search``) with a dense ranking (exact cosine of the corpus
    against query vector vec_id=0, top-20) by RECIPROCAL-RANK FUSION —
    score(d) = Σ_sources 1/(RRF_K + rank_source(d)) — the standard
    zero-tuning fusion for sparse+dense retrieval stacks (and the
    retrieval shape of a dedup-then-retrieve training-data loop). Ids
    are fused on the synthetic corpus's shared id space (doc_id and
    vec_id coincide below the embedding count).

    Plan: both source rankings are top-20 TakeOrdered results — the
    fusion's full-outer join and window run on ≤ 40 rows of metadata,
    while each source keeps its own scalable plan (BM25: pruned
    token-join; dense: broadcast query × corpus, no shuffle beyond the
    top-k). Missing-from-one-source ids contribute 0 from that source
    (COALESCE), never NULL-poisoning the fused score; ties break by
    id. 100 TB notes: fusion cost is O(k) regardless of corpus size —
    the sources bound it; RRF needs no score calibration between
    engines whose score scales differ (ranks only)."""
    from pyspark.sql import Window

    lex = q_bm25_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    q = (
        _vectors(spark, sf_dir, "query_id", "qv", "qn")
        .drop("label")
        .filter(F.col("query_id") == 0)
    )
    cand = _vectors(spark, sf_dir, "cand_id", "cv", "cn").drop("label")
    dense_scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_sim"),
        )
    )
    dense = (
        dense_scored.orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
        .limit(BM25_TOP_N)
        .select(
            F.col("cand_id").alias("id"),
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc()))
            .alias("dense_rank"),
        )
    )
    fused = (
        lex.join(dense, "id", "full_outer")
        .select(
            "id",
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("id").asc())
        .limit(RRF_TOP_N)
    )
    return fused


ORACLE_HYBRID_SEARCH_RRF = f"""
WITH lex_scores AS ({ORACLE_BM25_SEARCH}),
lex AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lex_scores
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dense_scored AS (
  SELECT e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> 0
),
dense AS (
  SELECT cand_id AS id,
         row_number() OVER (ORDER BY cos_sim DESC, cand_id ASC) AS dense_rank
  FROM (SELECT * FROM dense_scored
        ORDER BY cos_sim DESC, cand_id ASC LIMIT {BM25_TOP_N})
)
SELECT COALESCE(lex.id, dense.id) AS id, lex_rank, dense_rank,
       round(COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + dense_rank), 0.0), 6) AS rrf
FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
ORDER BY rrf DESC, id ASC LIMIT {RRF_TOP_N}
"""

EXT_QUERIES["hybrid_search_rrf"] = q_hybrid_search_rrf
EXT_ORACLES["hybrid_search_rrf"] = ORACLE_HYBRID_SEARCH_RRF


AUDIO_WINDOW_SAMPLES = 16  # tumbling energy-window width


def _decode_wav_windows(doc_id, buf: bytes):
    _, s = _wav_samples(doc_id, buf)
    W = AUDIO_WINDOW_SAMPLES
    segs = [s[k * W : (k + 1) * W] for k in range((len(s) + W - 1) // W)]
    return [
        (doc_id, k, len(seg), int(np.abs(seg).sum()), int((seg * seg).sum()))
        for k, seg in enumerate(segs)
    ]


def q_audio_energy_windows(spark, sf_dir):
    """AUDIO ENERGY PROFILE: tumbling 16-sample windows over the
    decoded PCM stream, emitting Σ|s| and Σs² per window — the
    voice-activity / silence-trim pre-filter of audio curation (drop
    windows under an energy floor before the expensive featurizer).
    Extends ``multimodal_decode_wav`` from per-file statistics to a
    per-WINDOW explode: the byte-level chunk walk is identical; the
    output is one row per (doc, window), integer-exact.

    100 TB notes: both stages stay map-only Arrow-batched passes over
    the binary column (the explode happens inside the decode UDF — no
    shuffle); the analytic oracle recomputes every window from the
    generator formula, so any sample-indexing mistake (window offsets,
    last-partial-window length) breaks the hash."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _wav_bytes,
        _decode_wav_windows,
        "doc_id long, win long, n_in_win long, sum_abs long, energy long",
    )


ORACLE_AUDIO_ENERGY_WINDOWS = f"""
WITH d AS (
  SELECT doc_id, 50 + doc_id % 50 AS n FROM documents
),
s AS (
  SELECT doc_id, i, ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
  FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM d)
)
SELECT doc_id, i // {AUDIO_WINDOW_SAMPLES} AS win,
       count(*) AS n_in_win,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM s
GROUP BY doc_id, i // {AUDIO_WINDOW_SAMPLES}
"""

EXT_QUERIES["audio_energy_windows"] = q_audio_energy_windows
EXT_ORACLES["audio_energy_windows"] = ORACLE_AUDIO_ENERGY_WINDOWS


AVI_SAMPLE_EVERY = 2  # decode every 2nd frame


def _avi_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of the deterministic test video."""
    return 4 + doc_id % 5, 3 + doc_id % 4, 4 + doc_id % 8


def _avi_frame_pixels(doc_id: int, f: int, w: int, h: int) -> bytes:
    """One uncompressed DIB frame: bottom-up rows, BGR, 4-byte stride."""
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up on disk
        row = bytearray()
        for x in range(w):
            r = (doc_id * 7 + f * 41 + x * 13 + y * 31) % 256
            g = (doc_id * 11 + f * 43 + x * 3 + y * 5) % 256
            b = (doc_id * 17 + f * 47 + x * 29 + y * 23) % 256
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - w * 3)
        rows.append(bytes(row))
    return b"".join(rows)


def _avi_bytes(doc_id: int) -> bytes:
    """RIFF/AVI container: LIST hdrl (avih MainAVIHeader + LIST strl
    with strh/strf), LIST movi with one '00db' uncompressed-DIB chunk
    per frame. Every structural field a real demuxer reads (magic,
    list types, avih frame count / dimensions, per-frame chunk sizes)
    is populated for real."""
    w, h, nf = _avi_params(doc_id)
    stride = (w * 3 + 3) // 4 * 4
    frame_sz = stride * h

    def chunk(cid: bytes, payload: bytes) -> bytes:
        return cid + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        33333, frame_sz * 30, 0, 0x10, nf, 0, 1, frame_sz, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 30, 0,
                                        nf, frame_sz, 0, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(
        b"movi",
        b"".join(
            chunk(b"00db", _avi_frame_pixels(doc_id, f, w, h)) for f in range(nf)
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_avi(doc_id, buf: bytes):
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError(f"doc {doc_id}: not an AVI payload")
    w = h = nf = None
    frames = []
    for cid, off, sz in _riff_chunks(buf, 12, len(buf)):
        if cid != b"LIST":
            continue
        ltype = buf[off : off + 4]
        for icid, ioff, isz in _riff_chunks(buf, off + 4, off + sz):
            if ltype == b"hdrl" and icid == b"avih":
                nf = struct.unpack_from("<I", buf, ioff + 16)[0]
                w, h = struct.unpack_from("<II", buf, ioff + 32)
            elif ltype == b"movi" and icid == b"00db":
                frames.append((ioff, isz))
    if w is None or nf is None or len(frames) != nf:
        raise ValueError(f"doc {doc_id}: malformed AVI")
    out = []
    for f, (off, fsz) in enumerate(frames):
        if f % AVI_SAMPLE_EVERY:
            continue  # sampling: skip pixel decode entirely
        if fsz != (w * 3 + 3) // 4 * 4 * h:
            raise ValueError(f"doc {doc_id}: bad frame size")
        out.append((doc_id, f, w, h, _luma(_dib_rgb(buf, off, w, h))))
    return out


def q_multimodal_decode_avi(spark, sf_dir):
    """VIDEO FRAME-SAMPLE over a binary column — completes the
    image (``multimodal_decode_bmp``) / audio (``multimodal_decode_wav``)
    / video triad with a REAL container parse: one Arrow-batched
    mapInPandas stage encodes a deterministic uncompressed RIFF/AVI per
    document, a SECOND independent stage demuxes the ACTUAL bytes
    (RIFF/'AVI ' magic, LIST walk, avih MainAVIHeader for frame count +
    dimensions, LIST movi '00db' chunk walk) and samples every
    ``AVI_SAMPLE_EVERY``-th frame, emitting one row per SAMPLED frame
    with its exact integer luma sum Σ(299·R + 587·G + 114·B) —
    pixel decode (bottom-up BGR DIB, 4-byte stride) is paid ONLY for
    sampled frames, the frame-sampling economics of real video curation.
    The oracle recomputes every sampled frame ANALYTICALLY from the
    generator formula, so any demux mistake (chunk padding, header
    offsets, row direction, BGR order, sampling phase) breaks the hash.

    100 TB notes: both stages stay map-only Arrow-batched passes over
    the binary column — no shuffle; a real corpus swaps the encode
    stage for a parquet binary read, demux unchanged."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _avi_bytes,
        _decode_avi,
        "doc_id long, frame_idx long, width long, height long, luma_milli long",
    )


ORACLE_MULTIMODAL_DECODE_AVI = f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         4 + doc_id % 8 AS nf
  FROM documents
),
fr AS (
  SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM d
),
px AS (
  SELECT doc_id, w, h, f, unnest(range(0, w * h)) AS i
  FROM fr WHERE f % {AVI_SAMPLE_EVERY} = 0
)
SELECT doc_id, f AS frame_idx, w AS width, h AS height,
       CAST(SUM(
         299 * ((doc_id * 7 + f * 41 + (i % w) * 13 + (i // w) * 31) % 256)
       + 587 * ((doc_id * 11 + f * 43 + (i % w) * 3 + (i // w) * 5) % 256)
       + 114 * ((doc_id * 17 + f * 47 + (i % w) * 29 + (i // w) * 23) % 256)
       ) AS BIGINT) AS luma_milli
FROM px
GROUP BY doc_id, f, w, h
"""

EXT_QUERIES["multimodal_decode_avi"] = q_multimodal_decode_avi
EXT_ORACLES["multimodal_decode_avi"] = ORACLE_MULTIMODAL_DECODE_AVI


AUDIO_ENERGY_FLOOR = 1 << 32  # Σs² over a 16-sample window (≈ half-range avg)


def q_audio_active_segments(spark, sf_dir):
    """VAD-STYLE SILENCE TRIM: contiguous runs of energetic windows.
    Composes the ``audio_energy_windows`` decode (map-only Arrow pass)
    with a gaps-and-islands merge: windows with Σs² under
    ``AUDIO_ENERGY_FLOOR`` are silence; consecutive ACTIVE windows
    collapse to one segment row (start/end window, width, total
    energy) via the win − row_number island key — the same merge shape
    as ``dedup_span_extents``, applied to the audio modality. This is
    the "trim to speech segments before the expensive featurizer" step
    of audio curation.

    100 TB notes: the only shuffle is the per-doc window function, and
    it runs on the FILTERED active-window rows (≤7 per doc here;
    bounded by payload length generally), never on raw samples —
    sample→window reduction happens inside the decode UDF."""
    from pyspark.sql import Window

    wins = q_audio_energy_windows(spark, sf_dir)
    act = wins.filter(F.col("energy") >= AUDIO_ENERGY_FLOOR)
    w = Window.partitionBy("doc_id").orderBy("win")
    isl = act.withColumn("island", F.col("win") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("win").alias("seg_start"),
            F.max("win").alias("seg_end"),
            F.count("*").alias("n_wins"),
            F.sum("energy").alias("seg_energy"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_wins", "seg_energy")
    )


ORACLE_AUDIO_ACTIVE_SEGMENTS = f"""
WITH d AS (
  SELECT doc_id, 50 + doc_id % 50 AS n FROM documents
),
s AS (
  SELECT doc_id, i, ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
  FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM d)
),
w AS (
  SELECT doc_id, i // {AUDIO_WINDOW_SAMPLES} AS win, SUM(v * v) AS energy
  FROM s GROUP BY doc_id, i // {AUDIO_WINDOW_SAMPLES}
),
a AS (
  SELECT doc_id, win, energy,
         win - row_number() OVER (PARTITION BY doc_id ORDER BY win) AS island
  FROM w WHERE energy >= {AUDIO_ENERGY_FLOOR}
)
SELECT doc_id, MIN(win) AS seg_start, MAX(win) AS seg_end,
       COUNT(*) AS n_wins, CAST(SUM(energy) AS BIGINT) AS seg_energy
FROM a GROUP BY doc_id, island
"""

EXT_QUERIES["audio_active_segments"] = q_audio_active_segments
EXT_ORACLES["audio_active_segments"] = ORACLE_AUDIO_ACTIVE_SEGMENTS


LEN_BUCKET_WIDTH = 32  # tokens per length bucket
LEN_BATCH_SIZE = 8     # docs per training batch


def q_length_bucketed_batches(spark, sf_dir):
    """LENGTH-BUCKETED BATCHING: the padding-minimization step between
    tokenization and the trainer — docs are binned into
    ``LEN_BUCKET_WIDTH``-token length buckets, deterministically
    shuffled WITHIN each bucket (independent content hash, doc_id
    tie-break), and cut into ``LEN_BATCH_SIZE``-doc batches; each row
    carries its batch's pad target (batch max tokens) and its own pad
    waste. Batching similar lengths together is what keeps padded-token
    waste low; the emitted manifest is byte-reproducible.

    100 TB notes: length buckets are LOW-cardinality (≈ max_len/32
    groups at any corpus size), so in-bucket positions use
    ``grouped_rank`` — a plain PARTITION BY bucket row_number would
    put each bucket's whole corpus on one task. The per-batch pad
    target is a window over (bucket, batch_id) — HIGH cardinality
    (corpus/8 groups), which is exactly where a plain window IS the
    scalable plan. Token counting is scan-stage JVM work."""
    from ..operators.ranking import grouped_rank

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    frame = d.select(
        "doc_id",
        F.size(F.expr(TOKENS_SPARK)).cast("long").alias("n_tokens"),
        _h(F.concat(F.lit("batch:"), F.col("doc_id").cast("string"))).alias(
            "__h"
        ),
    ).withColumn(
        "len_bucket", F.floor(F.col("n_tokens") / LEN_BUCKET_WIDTH)
    )
    ranked, _ = grouped_rank(
        frame, ["len_bucket"], ["__h", "doc_id"], rank_col="__rk"
    )
    rk0 = F.col("__rk") - 1
    batched = ranked.select(
        "doc_id",
        "len_bucket",
        F.floor(rk0 / LEN_BATCH_SIZE).alias("batch_id"),
        (rk0 % LEN_BATCH_SIZE).alias("pos_in_batch"),
        "n_tokens",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("len_bucket", "batch_id")
    return batched.select(
        "doc_id",
        "len_bucket",
        "batch_id",
        "pos_in_batch",
        "n_tokens",
        F.max("n_tokens").over(w).alias("pad_to"),
        (F.max("n_tokens").over(w) - F.col("n_tokens")).alias("pad_waste"),
    )


ORACLE_LENGTH_BUCKETED_BATCHES = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         {H_SQL.format(x="'batch:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens, n_tokens // {LEN_BUCKET_WIDTH} AS len_bucket,
         row_number() OVER (
           PARTITION BY n_tokens // {LEN_BUCKET_WIDTH} ORDER BY h, doc_id
         ) - 1 AS rk
  FROM t
)
SELECT doc_id, len_bucket, rk // {LEN_BATCH_SIZE} AS batch_id,
       rk % {LEN_BATCH_SIZE} AS pos_in_batch, n_tokens,
       MAX(n_tokens) OVER (
         PARTITION BY len_bucket, rk // {LEN_BATCH_SIZE}
       ) AS pad_to,
       MAX(n_tokens) OVER (
         PARTITION BY len_bucket, rk // {LEN_BATCH_SIZE}
       ) - n_tokens AS pad_waste
FROM r
"""

EXT_QUERIES["length_bucketed_batches"] = q_length_bucketed_batches
EXT_ORACLES["length_bucketed_batches"] = ORACLE_LENGTH_BUCKETED_BATCHES


POSTING_BLOCK = 128  # posting-list entries per block (Lucene-style)


def q_inverted_index_blocks(spark, sf_dir):
    """INVERTED-INDEX BUILD, block-sharded postings: per term, the
    sorted posting list is cut into ``POSTING_BLOCK``-entry blocks,
    each emitted as (base_doc = block's first absolute doc_id,
    gaps = delta-encoded successors, first delta 0) — the Lucene
    block-postings layout, and the reason a 100 TB index build never
    materializes "one row = one term's whole posting list": a stopword
    term's postings are corpus-sized and CANNOT be one array cell;
    fixed blocks bound every row and give the serving side skip
    pointers for free.

    Plan: explode→DISTINCT builds (term, doc_id); in-term positions
    come from ``grouped_rank`` (this corpus's vocabulary is tiny, so a
    plain PARTITION BY term row_number would collapse each term onto
    one task — the hot-stopword skew trap; with a Heaps-scale
    vocabulary the plain window becomes fine and grouped_rank's
    O(P·|vocab|) driver metadata does not, which is the documented
    cutover); the delta encode is a lag over (term, block) — HIGH
    cardinality, where a window is the scalable plan — and the block
    assembly is one sorted-struct collect bounded at 128 entries."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return _index_blocks_from(d)


def _index_blocks_from(d: DataFrame) -> DataFrame:
    """Block-postings build over any (doc_id, text) frame — shared by
    the monolithic gate and the LSM-segment gate."""
    tok = d.select(
        F.explode(F.expr(TOKENS_SPARK)).alias("term"), "doc_id"
    ).distinct()
    return _blocks_from_postings(tok)


def _blocks_from_postings(tok: DataFrame) -> DataFrame:
    """Block build from a (term, doc_id) posting frame — the part a
    COMPACTOR runs (it reads segment blocks, never source text).

    r13-opt (guide §2.4; r12 verdict item 3): the posting frame is
    eagerly cut BEFORE grouped_rank, whose repartitionByRange executes
    its input twice (boundary-sampling pass + the real shuffle). For
    every caller the input is an expensive subtree — tokenize→explode→
    DISTINCT for fresh builds, block-decode for the compactor — while
    the frame itself is two narrow columns, so one materialization is
    cheaper than a second execution. (The r12 experiment that measured
    a persist here as WORSE predates the _range_parts fix, when the
    input additionally ran a third time under df.rdd materialization
    and the persist competed with those executions for memory;
    re-measured after it — numbers in OPTIMIZATION_r13.md.)"""
    from pyspark.sql import Window

    from ..operators.ranking import grouped_rank

    tok = tok.localCheckpoint(eager=True)
    ranked, _ = grouped_rank(tok, ["term"], ["doc_id"], rank_col="__rk")
    blk = ranked.withColumn(
        "block_id", F.floor((F.col("__rk") - 1) / POSTING_BLOCK)
    )
    w = Window.partitionBy("term", "block_id").orderBy("doc_id")
    gapped = blk.withColumn(
        "gap", F.coalesce(F.col("doc_id") - F.lag("doc_id").over(w), F.lit(0))
    )
    return gapped.groupBy("term", "block_id").agg(
        F.count(F.lit(1)).alias("n_in_block"),
        F.min("doc_id").alias("base_doc"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id").alias("d"),
                                        F.col("gap").alias("g")))
            ),
            lambda s: s["g"],
        ).alias("gaps"),
    )


ORACLE_INVERTED_INDEX_BLOCKS = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
),
r AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1 AS rk
  FROM tok
),
b AS (
  SELECT term, doc_id, rk // {POSTING_BLOCK} AS block_id,
         doc_id - lag(doc_id) OVER (
           PARTITION BY term, rk // {POSTING_BLOCK} ORDER BY doc_id
         ) AS gap
  FROM r
)
SELECT term, block_id, count(*) AS n_in_block, MIN(doc_id) AS base_doc,
       list(coalesce(gap, 0) ORDER BY doc_id) AS gaps
FROM b GROUP BY term, block_id
"""

EXT_QUERIES["inverted_index_blocks"] = q_inverted_index_blocks
EXT_ORACLES["inverted_index_blocks"] = ORACLE_INVERTED_INDEX_BLOCKS


BOOL_TERM_A, BOOL_TERM_B = "spark", "vector"


def q_boolean_and_from_index(spark, sf_dir):
    """BOOLEAN AND RETRIEVAL **through the index**: consumes the
    ``inverted_index_blocks`` artifact — prunes to the two query
    terms' blocks first (the point of an index: touched data is
    O(matching postings), not O(corpus)), reconstructs absolute
    doc_ids from (base_doc, gaps) with a higher-order ``aggregate``
    prefix sum (pure JVM, no UDF), and intersects the two posting
    sets with a semi join. The oracle answers the same conjunctive
    query straight off the corpus — so the gate proves the
    block/delta encoding ROUND-TRIPS: any gap or base error changes
    the reconstructed ids and breaks the hash.

    100 TB notes: after the term filter everything is proportional to
    the two terms' posting lengths; reconstruction is per-row array
    work over ≤128-entry blocks; the AND is an equi semi join on
    doc_id."""
    blocks = q_inverted_index_blocks(spark, sf_dir)
    return _and_query_over_blocks(blocks)


_POSTING_RECON = (
    "aggregate(gaps,"
    " named_struct('last', CAST(base_doc AS BIGINT),"
    "              'arr', CAST(array() AS ARRAY<BIGINT>)),"
    " (acc, g) -> named_struct('last', acc.last + g,"
    "                          'arr', array_append(acc.arr, acc.last + g)),"
    " acc -> acc.arr)"
)


def _and_query_over_blocks(blocks: DataFrame) -> DataFrame:
    """Conjunctive AND of BOOL_TERM_A/B over any block-postings frame
    (monolithic or a union of LSM segments)."""
    sel = blocks.filter(F.col("term").isin(BOOL_TERM_A, BOOL_TERM_B))
    docs = sel.select("term", F.explode(F.expr(_POSTING_RECON)).alias("doc_id"))
    # no distinct needed: within one index a doc posts once per term,
    # and LSM segments partition the doc space (disjoint by construction)
    a = docs.filter(F.col("term") == BOOL_TERM_A).select("doc_id")
    b = docs.filter(F.col("term") == BOOL_TERM_B).select("doc_id")
    return a.join(b, "doc_id", "left_semi")


ORACLE_BOOLEAN_AND_FROM_INDEX = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
)
SELECT a.doc_id
FROM tok a JOIN tok b ON a.doc_id = b.doc_id
WHERE a.term = '{BOOL_TERM_A}' AND b.term = '{BOOL_TERM_B}'
"""

EXT_QUERIES["boolean_and_from_index"] = q_boolean_and_from_index
EXT_ORACLES["boolean_and_from_index"] = ORACLE_BOOLEAN_AND_FROM_INDEX


CDC_BOUNDARY_MOD = 8  # E[chunk] = 8 tokens; boundary iff h(token) % 8 == 0


def q_cdc_chunk_dedup(spark, sf_dir):
    """CONTENT-DEFINED CHUNKING dedup: chunk boundaries are a property
    of the CONTENT (token hash % {mod} == 0), not of positions — so a
    one-token insertion shifts only the chunk it lands in, while
    fixed-stride windows (``chunk_documents``) shift every downstream
    window. This is the rsync/CDC trick applied to corpus dedup: chunk
    every doc, hash chunks, report chunks occurring more than once
    with their corpus counts.

    Plan: posexplode → boundary flag (scan-stage hash) → per-doc
    running-sum segment id (window on doc_id — high cardinality,
    parallel) → ordered-struct collect per (doc, seg) → corpus-wide
    groupBy(chunk hash). All JVM; dup-report output is bounded by the
    duplicate population."""
    from pyspark.sql import Window

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.posexplode(F.expr(TOKENS_SPARK)).alias("pos", "tok")
    )
    b = F.when(
        F.pmod(_h(F.concat(F.lit("cdc:"), F.col("tok"))), F.lit(CDC_BOUNDARY_MOD))
        == 0,
        F.lit(1),
    ).otherwise(F.lit(0))
    w = Window.partitionBy("doc_id").orderBy("pos")
    segd = tok.withColumn("seg", F.sum(b).over(w))
    chunks = segd.groupBy("doc_id", "seg").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("pos").alias("p"), F.col("tok").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("chunk_text"),
    )
    hashed = chunks.select(
        "doc_id",
        "n_toks",
        _h(F.concat(F.lit("chunk:"), F.col("chunk_text"))).alias("chunk_hash"),
    )
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.max("n_toks").alias("chunk_tokens"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


ORACLE_CDC_CHUNK_DEDUP = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
tokrows AS (
  SELECT doc_id, u.c['p'] AS p, u.c['t'] AS t
  FROM (
    SELECT doc_id,
           [{{'p': i, 't': toks[i]}} FOR i IN range(1, len(toks) + 1)] AS cs
    FROM toked WHERE len(toks) > 0
  ), unnest(cs) AS u(c)
),
segd AS (
  SELECT doc_id, p, t,
         SUM(CASE WHEN {H_SQL.format(x="'cdc:' || t")} % {CDC_BOUNDARY_MOD} = 0
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS seg
  FROM tokrows
),
chunks AS (
  SELECT doc_id, seg, count(*) AS n_toks,
         string_agg(t, ' ' ORDER BY p) AS chunk_text
  FROM segd GROUP BY doc_id, seg
)
SELECT {H_SQL.format(x="'chunk:' || chunk_text")} AS chunk_hash,
       MAX(n_toks) AS chunk_tokens,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM chunks
GROUP BY 1 HAVING count(*) > 1
"""

EXT_QUERIES["cdc_chunk_dedup"] = q_cdc_chunk_dedup
EXT_ORACLES["cdc_chunk_dedup"] = ORACLE_CDC_CHUNK_DEDUP


def q_html_strip_extract(spark, sf_dir):
    """HTML BOILERPLATE STRIP (main-content extraction): each doc is
    wrapped in a deterministic page shell (head/style, nav, footer)
    and the op recovers the main content with a pure-JVM
    ``regexp_replace`` chain — drop head, drop nav, drop footer, strip
    remaining tags, collapse whitespace. Emits the extracted length,
    a content hash, and the boilerplate fraction (permyriad,
    floor-scaled — the round(double) cross-engine trap avoided). The
    oracle builds the SAME shell but derives the expected extraction
    ANALYTICALLY from the raw text — the gate fails if the strip chain
    loses or leaks a single character.

    100 TB notes: entirely scan-stage whole-stage-codegen column work —
    zero UDFs, zero shuffles (regex patterns chosen inside the
    Java∩RE2 common dialect: non-greedy, char classes; no lookaround).
    """
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>body-margin-0</style></head><body>"
              "<nav>home | about | contact</nav><main><p>"),
        F.col("text"),
        F.lit("</p></main><footer>copyright corp "),
        (F.lit(2000) + F.col("doc_id") % 25).cast("string"),
        F.lit("</footer></body></html>"),
    )
    s = F.regexp_replace(html, "<head>.*?</head>", "")
    s = F.regexp_replace(s, "<nav>.*?</nav>", "")
    s = F.regexp_replace(s, "<footer>.*?</footer>", "")
    s = F.regexp_replace(s, "<[^>]+>", " ")
    extracted = F.trim(F.regexp_replace(s, "\\s+", " "))
    return d.select(
        "doc_id",
        F.length(extracted).cast("long").alias("n_chars_extracted"),
        _h(F.concat(F.lit("x:"), extracted)).alias("extract_hash"),
        F.floor(
            (F.length(html) - F.length(extracted)).cast("long")
            * 10000
            / F.length(html)
        ).alias("boiler_permyriad"),
    )


ORACLE_HTML_STRIP_EXTRACT = f"""
WITH h AS (
  SELECT doc_id, text, n_chars,
         '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>body-margin-0</style></head><body>'
         || '<nav>home | about | contact</nav><main><p>'
         || text
         || '</p></main><footer>copyright corp '
         || CAST(2000 + doc_id % 25 AS VARCHAR)
         || '</footer></body></html>' AS html
  FROM documents
)
SELECT doc_id,
       n_chars AS n_chars_extracted,
       {H_SQL.format(x="'x:' || text")} AS extract_hash,
       (length(html) - n_chars) * 10000 // length(html) AS boiler_permyriad
FROM h
"""

EXT_QUERIES["html_strip_extract"] = q_html_strip_extract
EXT_ORACLES["html_strip_extract"] = ORACLE_HTML_STRIP_EXTRACT


def q_split_leakage_report(spark, sf_dir):
    """SPLIT-LEAKAGE AUDIT: the integrity check every training-data
    pipeline needs between dedup and training — verified near-dup
    pairs (``dedup_lsh_verified``) whose endpoints land on OPPOSITE
    sides of the deterministic train/test split: each such pair is an
    eval example whose near-copy sits in the training set, silently
    inflating eval. Emits the leaking pairs with their Jaccard and
    split labels; empty output is the pass condition a pipeline gate
    would assert.

    100 TB notes: the edge list is the (already linear) LSH→verify
    composition's output — small relative to the corpus; the split
    label is scan-stage hash arithmetic joined in by doc id. Nothing
    here revisits shingles."""
    edges = q_dedup_lsh_verified(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(_h(F.col("doc_id").cast("string")), F.lit(100))
    labels = d.select(
        "doc_id",
        F.when(bucket < 20, F.lit("test")).otherwise(F.lit("train")).alias(
            "split"
        ),
    )
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        edges.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


ORACLE_SPLIT_LEAKAGE_REPORT = f"""
WITH {_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT doc_a, doc_b,
         round(CAST(n_common AS DOUBLE)
               / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= {JACCARD_THRESHOLD}
),
lab AS (
  SELECT doc_id,
         CASE WHEN {H_SQL.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 20
              THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT v.doc_a, v.doc_b, v.jaccard,
       a.split AS split_a, b.split AS split_b
FROM ver v
JOIN lab a ON a.doc_id = v.doc_a
JOIN lab b ON b.doc_id = v.doc_b
WHERE a.split <> b.split
"""

EXT_QUERIES["split_leakage_report"] = q_split_leakage_report
EXT_ORACLES["split_leakage_report"] = ORACLE_SPLIT_LEAKAGE_REPORT


PHRASE_QUERY = ("table", "scan")


def q_phrase_query_positional(spark, sf_dir):
    """PHRASE QUERY via positional postings: find documents containing
    the exact phrase "{a} {b}" by intersecting the two terms'
    positional posting lists on (doc, pos+1) adjacency — the plan a
    positional inverted index executes, and the retrieval-side sibling
    of ``boolean_and_from_index`` (which proves bag-of-words AND).
    Output: per matching doc, occurrence count and first position.

    100 TB notes: the term filters are scan-stage and SELECTIVE — only
    the two query terms' postings enter the join (in a served system
    they'd be index lookups; the plan after that point is identical);
    the adjacency check is an equi-join on (doc_id, pos), no
    inequality, no BNLJ."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.posexplode(F.expr(TOKENS_SPARK)).alias("pos", "tok")
    )
    a, b = PHRASE_QUERY
    t1 = tok.filter(F.col("tok") == a).select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )
    t2 = tok.filter(F.col("tok") == b).select(
        F.col("doc_id").alias("doc_id2"), (F.col("pos") - 1).cast("long").alias("pos2")
    )
    hits = t1.join(
        t2,
        (F.col("doc_id") == F.col("doc_id2")) & (F.col("pos") == F.col("pos2")),
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("pos").alias("first_pos"),
    )


ORACLE_PHRASE_QUERY_POSITIONAL = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
hits AS (
  SELECT doc_id, i - 1 AS pos0
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toked
  )
  WHERE toks[i] = '{PHRASE_QUERY[0]}' AND toks[i + 1] = '{PHRASE_QUERY[1]}'
)
SELECT doc_id, count(*) AS n_occurrences, CAST(min(pos0) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
"""

EXT_QUERIES["phrase_query_positional"] = q_phrase_query_positional
EXT_ORACLES["phrase_query_positional"] = ORACLE_PHRASE_QUERY_POSITIONAL


def q_cross_source_dup_matrix(spark, sf_dir):
    """PROVENANCE DUPLICATION MATRIX: verified near-dup pairs rolled up
    by unordered source pair — the "which feeds copy from which"
    dashboard that decides per-source dedup aggressiveness and crawl
    dedup order. Exact-decimal Jaccard mass per cell (order-proof; no
    float sum), unordered (least, greatest) cell key so A→B and B→A
    land in one cell.

    100 TB notes: input is the already-linear LSH→verify edge list;
    labels join in by doc id; the rollup key domain is |sources|² —
    bounded."""
    edges = q_dedup_lsh_verified(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    lab = edges.join(sa, "doc_a").join(sb, "doc_b")
    return (
        lab.select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
            F.col("jaccard").cast("decimal(18,6)").alias("j"),
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j").cast("double").alias("sum_jaccard"),
        )
    )


ORACLE_CROSS_SOURCE_DUP_MATRIX = f"""
WITH {_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT doc_a, doc_b,
         round(CAST(n_common AS DOUBLE)
               / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= {JACCARD_THRESHOLD}
)
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       count(*) AS n_pairs,
       CAST(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS sum_jaccard
FROM ver v
JOIN documents da ON da.doc_id = v.doc_a
JOIN documents db ON db.doc_id = v.doc_b
GROUP BY 1, 2
"""

EXT_QUERIES["cross_source_dup_matrix"] = q_cross_source_dup_matrix
EXT_ORACLES["cross_source_dup_matrix"] = ORACLE_CROSS_SOURCE_DUP_MATRIX


INDEX_DELTA_MOD = 10  # delta segment: doc_id % 10 == 0 (the "new docs")


def q_index_segment_merge(spark, sf_dir):
    """LSM-SEGMENT INDEX SERVING: appending documents to a block
    index cannot splice postings into existing 128-entry blocks
    (every block boundary after the insertion would shift — a full
    rewrite); real engines write the new docs as a SEPARATE SEGMENT
    and serve queries over the segment UNION, compacting later. This
    gate proves the segment path: build the block index over the base
    corpus (doc_id % {mod} != 0) and a second segment over the delta
    (doc_id % {mod} == 0), union them, and run the same conjunctive
    AND as ``boolean_and_from_index`` — the oracle answers off the
    FULL corpus, so serving over segments must equal the monolithic
    index exactly.

    100 TB notes: the delta build touches only delta bytes (the
    incremental-maintenance property); segments are disjoint by
    construction so the union needs no dedup; per-term work stays
    bounded by posting length within each segment."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    base = d.filter(F.col("doc_id") % INDEX_DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % INDEX_DELTA_MOD == 0)
    segs = (
        _index_blocks_from(base)
        .withColumn("segment", F.lit(0))
        .unionByName(_index_blocks_from(delta).withColumn("segment", F.lit(1)))
    )
    return _and_query_over_blocks(segs)


# same answer as the monolithic-index gate: the corpus-level truth
ORACLE_INDEX_SEGMENT_MERGE = ORACLE_BOOLEAN_AND_FROM_INDEX

EXT_QUERIES["index_segment_merge"] = q_index_segment_merge
EXT_ORACLES["index_segment_merge"] = ORACLE_INDEX_SEGMENT_MERGE


def _decode_block_postings(blocks: DataFrame) -> DataFrame:
    """(term, doc_id) postings decoded FROM gap-encoded blocks — the
    read half of a compactor. doc_i = base + Σ gaps[..i] (the first
    gap is 0 by the encoder's lag-coalesce), computed per block with
    one ``aggregate`` running-sum lambda — O(block) work, no explode
    of intermediate prefix arrays."""
    return blocks.select(
        "term",
        F.explode(
            F.expr(
                "aggregate(gaps,"
                " struct(CAST(base_doc AS BIGINT) AS cur,"
                "        CAST(array() AS ARRAY<BIGINT>) AS out),"
                " (acc, g) -> struct(acc.cur + g AS cur,"
                "                    array_append(acc.out, acc.cur + g) AS out),"
                " acc -> acc.out)"
            )
        ).alias("doc_id"),
    )


def q_index_segment_compaction(spark, sf_dir):
    """LSM SEGMENT COMPACTION — the background rewrite the segment
    gates defer to: read the per-segment gap-encoded posting BLOCKS
    (never the source text — a real compactor sees only segments),
    decode them back to (term, doc_id) postings, rebuild canonical
    128-entry blocks over the union, and serve the same conjunctive
    AND query. The answer must equal the corpus-level truth (same
    oracle as ``boolean_and_from_index``), and the compacted index is
    BLOCK-IDENTICAL to the from-scratch monolithic build (pinned by
    test — compaction output is canonical, so compact-then-compact is
    a no-op and readers can never tell segment history).

    100 TB notes: the compactor's input is Σ postings/128 block ROWS
    (bounded by corpus postings, decoded per-block in O(block));
    segments are disjoint so the union needs no dedup; the rebuild is
    the same grouped_rank path as the fresh build — term is
    low-cardinality here, the exact collapse case grouped_rank exists
    for. Serving switches atomically from segments to the compacted
    generation via the manifest-pointer pattern (sources/fsutil.py);
    this gate proves the rewrite's CONTENT."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    base = d.filter(F.col("doc_id") % INDEX_DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % INDEX_DELTA_MOD == 0)
    segs = _index_blocks_from(base).unionByName(_index_blocks_from(delta))
    compacted = _blocks_from_postings(_decode_block_postings(segs))
    return _and_query_over_blocks(compacted)


# reader-invisible compaction: the same corpus-level answer
ORACLE_INDEX_SEGMENT_COMPACTION = ORACLE_BOOLEAN_AND_FROM_INDEX

EXT_QUERIES["index_segment_compaction"] = q_index_segment_compaction
EXT_ORACLES["index_segment_compaction"] = ORACLE_INDEX_SEGMENT_COMPACTION


def q_streaming_index_segments(spark, sf_dir):
    """§2.9 ∘ LSM INDEX: STREAMING index maintenance — the documents
    table arrives as micro-batches (file source, one file per
    trigger), and each batch builds its OWN posting segment, written
    to a per-batch directory with overwrite (idempotent replay — the
    quarantine-sink discipline); nothing ever splices existing blocks.
    After the bounded stream drains, the conjunctive AND query served
    over the UNION of all segments must equal the corpus-level truth —
    the oracle is the same monolithic answer as
    ``boolean_and_from_index``, so segment count and boundaries are
    proven invisible to readers.

    100 TB notes: per-batch work is proportional to BATCH bytes (the
    incremental-maintenance property); segment compaction is a later
    background rewrite, not a serving dependency; replay overwrites
    its own segment directory, never duplicating postings."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    segs = replay(
        spark, "streaming_index_segments", d, "doc_id",
        lambda batch_df, _: _index_blocks_from(batch_df),
    )
    return _and_query_over_blocks(segs)


# reader-invisible segmentation: same corpus-level answer
ORACLE_STREAMING_INDEX_SEGMENTS = ORACLE_BOOLEAN_AND_FROM_INDEX

EXT_QUERIES["streaming_index_segments"] = q_streaming_index_segments
EXT_ORACLES["streaming_index_segments"] = ORACLE_STREAMING_INDEX_SEGMENTS


PMI_MIN_COUNT = 5  # bigram support floor — kills noise collocations


def q_collocation_pmi(spark, sf_dir):
    """COLLOCATION MINING via pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over corpus bigram and
    unigram MLE estimates, support-floored at {mc} occurrences — the
    phrase-discovery pass that feeds tokenizer vocab extensions and
    query expansion. The ln argument is assembled from exact integer
    counts in a FIXED left-associative double expression (identical
    IEEE result in both engines) and the ln output is rounded at 6 dp
    — the doc_lm_score libm discipline.

    100 TB notes: one exploded pass per n-gram order; every join is
    between VOCAB-sized aggregate tables (never back to instances);
    output is bounded by the support floor."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toked = d.withColumn("__toks", F.expr(TOKENS_SPARK))
    uni = toked.select(F.explode("__toks").alias("w"))
    c_uni = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.groupBy().agg(F.count(F.lit(1)).alias("nu"))
    bg = toked.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) >= 2 THEN "
                "transform(sequence(0, size(__toks) - 2), "
                "i -> struct(__toks[i] AS w1, __toks[i+1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c_bg = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    nbi = bg.groupBy().agg(F.count(F.lit(1)).alias("nbi"))
    ca = c_uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = c_uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    joined = c_bg.join(ca, "w1").join(cb, "w2")
    # corpus totals as scalar subqueries (run once, embed as literals)
    # instead of 1-row crossJoins — the sweep bans the CartesianProduct
    # those become once static broadcasts are off (token_rarity pattern)
    nu_s, nbi_s = nu.scalar(), nbi.scalar()
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * nu_s * nu_s)
            / (nbi_s.cast("double") * F.col("c_a") * F.col("c_b"))
        ),
        6,
    )
    return joined.select("w1", "w2", "c_ab", pmi.alias("pmi"))


ORACLE_COLLOCATION_PMI = f"""
WITH toked AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
uni AS (SELECT unnest(toks) AS w FROM toked),
c_uni AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
nu AS (SELECT count(*) AS nu FROM uni),
bg AS (
  SELECT u.bg['w1'] AS w1, u.bg['w2'] AS w2
  FROM (
    SELECT CASE WHEN len(toks) >= 2 THEN
             [{{'w1': toks[i], 'w2': toks[i+1]}} FOR i IN range(1, len(toks))]
           ELSE [] END AS bgs
    FROM toked
  ), unnest(bgs) AS u(bg)
),
c_bg AS (
  SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_COUNT}
),
nbi AS (SELECT count(*) AS nbi FROM bg)
SELECT w1, w2, c_ab,
       round(ln(
         (CAST(c_ab AS DOUBLE) * nu.nu * nu.nu)
         / (CAST(nbi.nbi AS DOUBLE) * ca.c * cb.c)
       ), 6) AS pmi
FROM c_bg
JOIN c_uni ca ON ca.w = c_bg.w1
JOIN c_uni cb ON cb.w = c_bg.w2
CROSS JOIN nu CROSS JOIN nbi
"""

EXT_QUERIES["collocation_pmi"] = q_collocation_pmi
EXT_ORACLES["collocation_pmi"] = ORACLE_COLLOCATION_PMI


NEG_PER_DOC = 4    # negatives requested per anchor
NEG_BUCKETS = 64   # candidate-pool buckets (bounded representative table)


def q_contrastive_negatives(spark, sf_dir):
    """CONTRASTIVE NEGATIVE SAMPLING: deterministic training-pair
    generation — each anchor doc draws {k} pseudo-random negatives,
    then drops any that is (a) itself or (b) a VERIFIED near-duplicate
    of the anchor (a "negative" that is actually a positive poisons
    the contrastive loss; this is the dedup-evidence-aware form of
    negative mining). Contiguity-free candidate scheme: every doc
    hashes into one of {b} buckets; the per-bucket min doc_id is the
    bucket's representative; anchor i's k-th draw targets bucket
    h(i,k) — no dependence on dense ids, rerun-stable anywhere.

    100 TB notes: the representative table is BOUNDED ({b} rows —
    the explicitly-broadcastable class); draws are scan-stage hash
    arithmetic + explode(k); the near-dup exclusion is an anti join
    against the linear LSH-verify edge list."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    reps = (
        d.groupBy(
            F.pmod(
                _h(F.concat(F.lit("bkt:"), F.col("doc_id").cast("string"))),
                F.lit(NEG_BUCKETS),
            ).alias("b")
        )
        .agg(F.min("doc_id").alias("neg_id"))
    )
    # the representative table is bounded by CONSTRUCTION (≤ NEG_BUCKETS
    # rows), but the plan sweep can't prove a hash-mod grouping key is
    # bounded — so ship it as a literal lookup map (the grouped_rank
    # offset-map pattern: O(buckets) driver metadata, ZERO join) instead
    # of a broadcast join the sweep must take on faith
    rep_rows = reps.collect()
    rep_map = F.create_map(
        *[F.lit(x) for r in rep_rows for x in (r["b"], r["neg_id"])]
    )
    cand = (
        d.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.lit(NEG_PER_DOC - 1))).alias("k")
        )
        .withColumn(
            "tb",
            F.pmod(
                _h(
                    F.concat(
                        F.lit("neg:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("k").cast("string"),
                    )
                ),
                F.lit(NEG_BUCKETS),
            ),
        )
        .withColumn("neg_id", F.element_at(rep_map, F.col("tb")))
        .filter(
            F.col("neg_id").isNotNull() & (F.col("neg_id") != F.col("doc_id"))
        )
        .select("doc_id", F.col("k").cast("long").alias("k"), "neg_id")
    )
    edges = q_dedup_lsh_verified(spark, sf_dir).select("doc_a", "doc_b")
    both = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("neg_id"))
    return cand.join(both, ["doc_id", "neg_id"], "left_anti")


ORACLE_CONTRASTIVE_NEGATIVES = f"""
WITH {_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= {JACCARD_THRESHOLD}
),
pairs AS (
  SELECT doc_a, doc_b FROM ver
  UNION ALL SELECT doc_b, doc_a FROM ver
),
reps AS (
  SELECT {H_SQL.format(x="'bkt:' || CAST(doc_id AS VARCHAR)")}
           % {NEG_BUCKETS} AS b,
         min(doc_id) AS neg_id
  FROM documents GROUP BY 1
),
cands AS (
  SELECT d.doc_id, k.k, r.neg_id
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, {NEG_PER_DOC})) AS k) k
  JOIN reps r
    ON r.b = {H_SQL.format(
        x="'neg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)"
    )} % {NEG_BUCKETS}
  WHERE r.neg_id <> d.doc_id
)
SELECT c.doc_id, c.k, c.neg_id
FROM cands c
LEFT JOIN pairs p ON p.doc_a = c.doc_id AND p.doc_b = c.neg_id
WHERE p.doc_a IS NULL
"""

EXT_QUERIES["contrastive_negatives"] = q_contrastive_negatives
EXT_ORACLES["contrastive_negatives"] = ORACLE_CONTRASTIVE_NEGATIVES


def q_observed_scan_metrics(spark, sf_dir):
    """PIGGYBACKED DQ METRICS via ``Dataset.observe``: row count,
    exact-decimal value sum, and min/max ride on the SAME pass that
    does the real work (here: a noop-sink write of the filtered scan)
    — zero extra jobs, zero second scan. This is how a 100 TB pipeline
    collects freshness/volume metrics without paying for a dedicated
    metrics query; the observation result is O(1) driver metadata
    returned as a one-row frame and oracle-checked against a direct
    aggregation.

    Observe accepts only deterministic non-distinct aggregates — the
    same restriction that makes the metrics mergeable across tasks."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    obs = Observation("scan_dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("sum_qty"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(str(m["sum_qty"])),
                int(m["min_ok"]),
                int(m["max_ok"]),
            )
        ],
        "n_rows long, sum_qty double, min_ok long, max_ok long",
    )


ORACLE_OBSERVED_SCAN_METRICS = """
SELECT count(*) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
         AS sum_qty,
       min(l_orderkey) AS min_ok,
       max(l_orderkey) AS max_ok
FROM lineitem WHERE l_quantity > 0
"""

EXT_QUERIES["observed_scan_metrics"] = q_observed_scan_metrics
EXT_ORACLES["observed_scan_metrics"] = ORACLE_OBSERVED_SCAN_METRICS


def q_jsonl_ingest_roundtrip(spark, sf_dir):
    """JSONL INGESTION with corrupt-record accounting: the corpus is
    round-tripped through line-delimited JSON (the lingua franca of
    web-scale text datasets), ONE malformed line is planted, and the
    PERMISSIVE read with an explicit ``_corrupt_record`` column must
    (a) recover every good row bit-for-bit (exact char sum proves it)
    and (b) COUNT the bad line instead of dropping or crashing — the
    ingest contract a 100 TB crawl feed needs (schema drift and
    truncated lines are a when, not an if).

    100 TB notes: explicit schema (no inference scan — inference reads
    the whole corpus TWICE at scale); JSONL splits by line so the read
    parallelizes; corrupt rows are quarantined by predicate, the same
    split-don't-halt shape as the streaming DQ gate."""
    from ..sources.fsutil import scratch_dir

    src = scratch_dir("jsonl_ingest_roundtrip")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    d.write.mode("overwrite").json(src)
    with open(os.path.join(src, "part-corrupt.json"), "w") as fh:
        fh.write('{"doc_id": 999999999, "text": "truncated...\n')
    back = spark.read.schema(
        "doc_id long, text string, lang string, _corrupt_record string"
    ).json(src)
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        F.sum(F.when(good, F.length("text")).otherwise(0)).alias(
            "total_chars"
        ),
        F.count_distinct(F.when(good, F.col("lang"))).alias("n_langs"),
    )


ORACLE_JSONL_INGEST_ROUNDTRIP = """
SELECT count(*) AS n_good,
       1 AS n_corrupt,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents
"""

EXT_QUERIES["jsonl_ingest_roundtrip"] = q_jsonl_ingest_roundtrip
EXT_ORACLES["jsonl_ingest_roundtrip"] = ORACLE_JSONL_INGEST_ROUNDTRIP


def q_csv_ingest_quoted(spark, sf_dir):
    """CSV INGESTION under RFC-4180 adversarial content: a field is
    constructed to contain the delimiter, the quote char, AND an
    embedded newline; written with quote-doubling escaping
    (``escape='"'`` — Spark's default is backslash-escape, which
    mainstream CSV readers reject) and read back with
    ``multiLine=true``; an exact content-hash sum over the recovered
    field proves byte-fidelity. This is the gate that catches the
    three classic CSV corruptions: naive split-on-comma, backslash vs
    doubled-quote escaping, and line-based splitting of multi-line
    records.

    100 TB notes: multiLine CSV is NOT line-splittable (a record can
    cross any byte boundary) — each file becomes one task, so the
    writer controls parallelism via file count (the repartition
    here); prefer JSONL/parquet upstream when possible — this gate
    exists because crawl feeds don't always cooperate."""
    from ..sources.fsutil import scratch_dir

    src = scratch_dir("csv_ingest_quoted")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tricky = F.concat(
        F.lit('a,"b'),
        F.lit("\n"),
        F.substring(F.col("text"), 1, 40),
        F.lit('",'),
        F.col("doc_id").cast("string"),
    )
    d.select("doc_id", tricky.alias("payload")).repartition(8).write.mode(
        "overwrite"
    ).option("header", "true").option("quoteAll", "true").option(
        "escape", '"'
    ).csv(src)
    back = (
        spark.read.schema("doc_id long, payload string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(src)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_h(F.concat(F.lit("csv:"), F.col("payload")))).alias(
            "payload_hash_sum"
        ),
        F.sum(F.length("payload")).alias("total_chars"),
    )


_CSV_TRICKY_SQL = (
    "'a,\"b' || chr(10) || substr(text, 1, 40) || '\",' "
    "|| CAST(doc_id AS VARCHAR)"
)
_CSV_HASH_SQL = H_SQL.format(x="'csv:' || " + _CSV_TRICKY_SQL)

ORACLE_CSV_INGEST_QUOTED = f"""
SELECT count(*) AS n_rows,
       CAST(SUM({_CSV_HASH_SQL}) AS BIGINT) AS payload_hash_sum,
       CAST(SUM(length({_CSV_TRICKY_SQL})) AS BIGINT) AS total_chars
FROM documents
"""

EXT_QUERIES["csv_ingest_quoted"] = q_csv_ingest_quoted
EXT_ORACLES["csv_ingest_quoted"] = ORACLE_CSV_INGEST_QUOTED


WARC_BLOB_DOCS = 16  # records packed per blob (the "one .warc file" unit)


def q_warc_like_records(spark, sf_dir):
    """CRAWL-ARCHIVE RECORD FRAMING (WARC-shaped): documents are
    packed ~{n} to a blob as length-delimited records — version line,
    headers (record id, Content-Length), blank line, payload,
    double-newline separator — and a SECOND pass recovers every
    record by walking the framing: parse headers, slice exactly
    Content-Length bytes, verify the separator, repeat. This is the
    CommonCrawl-style ingest shape: you cannot split a WARC by lines
    (payloads contain newlines); the only safe walk is
    length-delimited, and one framing error desynchronizes the rest
    of the blob — which is exactly what the per-record content hash
    gate would catch.

    100 TB notes: blob assembly is an ordered-struct collect per blob
    key (bounded at {n} records); the decode is a map-only
    Arrow-batched pass; real WARCs swap the assembly stage for a
    binary-file read, walk unchanged."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    record = F.concat(
        F.lit("WARC/1.0\nWARC-Record-ID: "),
        F.col("doc_id").cast("string"),
        F.lit("\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\n\n"),
        F.col("text"),
        F.lit("\n\n"),
    )
    blobs = (
        d.select(
            (F.col("doc_id") / WARC_BLOB_DOCS).cast("long").alias("blob_id"),
            F.struct(F.col("doc_id").alias("d"), record.alias("r")).alias("s"),
        )
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("s")), lambda s: s["r"]),
                "",
            ).alias("blob")
        )
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, lens, hashes = [], [], []
            for blob in pdf["blob"]:
                pos = 0
                while pos < len(blob):
                    hdr_end = blob.index("\n\n", pos)
                    headers = blob[pos:hdr_end].split("\n")
                    if headers[0] != "WARC/1.0":
                        raise ValueError("bad version line")
                    fields = dict(
                        h.split(": ", 1) for h in headers[1:] if ": " in h
                    )
                    clen = int(fields["Content-Length"])
                    payload = blob[hdr_end + 2 : hdr_end + 2 + clen]
                    if blob[hdr_end + 2 + clen : hdr_end + 4 + clen] != "\n\n":
                        raise ValueError("framing desync")
                    ids.append(int(fields["WARC-Record-ID"]))
                    lens.append(len(payload))
                    hashes.append(
                        int(
                            hashlib.md5(f"w:{payload}".encode()).hexdigest()[:8],
                            16,
                        )
                    )
                    pos = hdr_end + 4 + clen
            yield pd.DataFrame(
                {"doc_id": ids, "payload_len": lens, "payload_hash": hashes}
            )

    return blobs.mapInPandas(
        parse, schema="doc_id long, payload_len long, payload_hash long"
    )


ORACLE_WARC_LIKE_RECORDS = f"""
SELECT doc_id,
       length(text) AS payload_len,
       {H_SQL.format(x="'w:' || text")} AS payload_hash
FROM documents
"""

EXT_QUERIES["warc_like_records"] = q_warc_like_records
EXT_ORACLES["warc_like_records"] = ORACLE_WARC_LIKE_RECORDS


def q_quantile_normalize_scores(spark, sf_dir):
    """CROSS-SOURCE QUANTILE NORMALIZATION (batch-effect correction):
    each source's score distribution is mapped onto the POOLED
    distribution — doc with in-source rank r of n_s gets the pooled
    value at nearest-rank position ceil(r·N / n_s) — so "top decile"
    means the same thing whatever feed a document came from (raw
    scores are incomparable when sources have different length/style
    baselines; thresholding them jointly without this silently
    over-keeps the verbose source). Exact integer rank arithmetic;
    score here is n_chars (any deterministic per-doc score slots in).

    100 TB notes: in-source ranks via ``grouped_rank`` (|sources| is
    low-cardinality — the PARTITION BY source collapse case), pooled
    positions via ``global_rank`` (the no-1-task global sort); the
    position→value mapping is an equi join with the corpus-derived
    side pinned ``shuffle_hash``."""
    from ..operators.ranking import global_rank, grouped_rank

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ranked, totals = grouped_rank(
        d, ["source"], ["n_chars", "doc_id"], rank_col="__r"
    )
    n_total = sum(totals.values())
    sep = "\x1f"
    items = [F.lit(x) for gk, n in totals.items() for x in (sep.join(gk), n)]
    n_s = F.element_at(F.create_map(*items), F.col("source")).cast("long")
    # exact bigint ceil-division — no double in the rank arithmetic
    # (r·N can exceed 2^53 long before it exceeds bigint; past bigint,
    # swap the operands to decimal(38,0) — `div` accepts both)
    framed = ranked.withColumn("__ns", n_s).withColumn(
        "__tgt", F.expr(f"(__r * {n_total}L + __ns - 1) div __ns")
    )
    pooled = global_rank(
        d.select(F.col("n_chars").alias("pool_score"), F.col("doc_id").alias("__pd")),
        ["pool_score", "__pd"],
        rank_col="__g",
    ).select("__g", "pool_score").hint("shuffle_hash")
    return (
        framed.join(pooled, framed["__tgt"] == pooled["__g"])
        .select(
            "doc_id",
            "source",
            F.col("n_chars").alias("score"),
            F.col("pool_score").alias("norm_score"),
        )
    )


ORACLE_QUANTILE_NORMALIZE_SCORES = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rs,
         count(*) OVER (PARTITION BY source) AS ns,
         count(*) OVER () AS n
  FROM documents
),
pooled AS (
  SELECT n_chars AS pool_score,
         row_number() OVER (ORDER BY n_chars, doc_id) AS g
  FROM documents
)
SELECT r.doc_id, r.source, r.n_chars AS score, p.pool_score AS norm_score
FROM r JOIN pooled p ON p.g = (r.rs * r.n + r.ns - 1) // r.ns
"""

EXT_QUERIES["quantile_normalize_scores"] = q_quantile_normalize_scores
EXT_ORACLES["quantile_normalize_scores"] = ORACLE_QUANTILE_NORMALIZE_SCORES


KNN_OUTLIER_TOP = 20


def q_embedding_knn_outliers(spark, sf_dir):
    """EMBEDDING OUTLIER REPORT via k-NN sparsity: a vector whose top-3
    neighbors are all far away sits in a sparse region — the classic
    kth-NN density proxy (LOF's core signal) for flagging
    out-of-distribution or mis-embedded items before they poison
    contrastive batches or ANN recall stats. Consumes the
    ``knn_graph_ivf`` edges, aggregates mean neighbor similarity per
    vector (exact-decimal sum of the 6-dp-rounded edge sims), and
    reports the {k} sparsest vectors under a (mean, id) total order.

    100 TB notes: everything rides the already-linear kNN graph build
    (two exchanges); the report is a map-side-combinable aggregate +
    TakeOrdered — no new scan of the vectors."""
    g = q_knn_graph_ivf(spark, sf_dir)
    agg = g.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(
            F.sum(F.col("cos_sim").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_knn_sim"),
    )
    return agg.orderBy(F.col("mean_knn_sim").asc(), F.col("query_id").asc()).limit(
        KNN_OUTLIER_TOP
    )


ORACLE_EMBEDDING_KNN_OUTLIERS = f"""
WITH knn AS ({ORACLE_KNN_GRAPH_IVF})
SELECT query_id, count(*) AS n_neighbors,
       round(CAST(CAST(SUM(CAST(cos_sim AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) / count(*), 6) AS mean_knn_sim
FROM knn
GROUP BY query_id
ORDER BY mean_knn_sim ASC, query_id ASC
LIMIT {KNN_OUTLIER_TOP}
"""

EXT_QUERIES["embedding_knn_outliers"] = q_embedding_knn_outliers
EXT_ORACLES["embedding_knn_outliers"] = ORACLE_EMBEDDING_KNN_OUTLIERS


NDCG_K = 10


def q_retrieval_ndcg(spark, sf_dir):
    """RETRIEVAL QUALITY EVAL — NDCG@{k} of the BM25 ranking: graded
    relevance = number of distinct query terms the document actually
    contains (0–3), gain = 2^rel − 1, discount = log2(rank+1), ideal
    ranking = the same candidate set sorted by relevance. The eval
    half of the retrieval stack (``bm25_search`` / ``hybrid_search_rrf``
    produce rankings; this grades one), and the pattern for evaluating
    any ranker against any label column.

    Determinism: gains are integers; each DCG term is rounded at
    10 dp (the per-instance-ln discipline — log2 is the only libm
    call) then decimal-summed; the final DCG/IDCG ratio of two
    identical doubles is rounded at 6 dp. All windows run on the
    LIMIT-{n} candidate frame — bounded, one partition is the plan."""
    from pyspark.sql import Window

    # ONE _bm25_doc_stats sidecar serves both the ranking and the
    # relevance grades (pre-r12 this gate ran its own tokenize+join
    # pass for rel on top of bm25_search's four — now one total):
    # "number of distinct query terms present" IS the count of
    # positive per-term tf columns.
    d, wide = _bm25_doc_stats(spark, sf_dir)
    ranked = _bm25_ranking(d, wide)  # 20 rows, (bm25 desc, doc_id)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    ranked = ranked.withColumn("rank", F.row_number().over(w))
    k = len(BM25_QUERY_TERMS)
    ind = [(F.col(f"tf{i}") > 0).cast("long") for i in range(k)]
    rel_expr = ind[0]
    for x in ind[1:]:
        rel_expr = rel_expr + x
    rel = (
        wide.select("doc_id", rel_expr.alias("rel"))
        .filter(F.col("rel") > 0)
    )
    scored = (
        ranked.join(rel, "doc_id", "left")
        .withColumn("rel", F.coalesce("rel", F.lit(0)))
        .withColumn("gain", F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
    )
    iw = Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    scored = scored.withColumn("irank", F.row_number().over(iw))
    term = F.round(F.col("gain") / F.log2(F.col("rank") + 1), 10)
    iterm = F.round(F.col("gain") / F.log2(F.col("irank") + 1), 10)
    agg = scored.agg(
        F.sum(
            F.when(F.col("rank") <= NDCG_K, term).otherwise(0.0).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("dcg"),
        F.sum(
            F.when(F.col("irank") <= NDCG_K, iterm).otherwise(0.0).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("idcg"),
    )
    return agg.select(
        F.round("dcg", 6).alias("dcg_10"),
        F.round("idcg", 6).alias("idcg_10"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_10"),
    )


ORACLE_RETRIEVAL_NDCG = f"""
WITH ranked AS (
  SELECT doc_id, bm25,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM ({ORACLE_BM25_SEARCH})
),
qt AS (SELECT unnest({list(BM25_QUERY_TERMS)}) AS t),
rel AS (
  SELECT doc_id, count(DISTINCT t) AS rel
  FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS t FROM documents)
  JOIN qt USING (t) GROUP BY 1
),
scored AS (
  SELECT r.doc_id, r.rank, COALESCE(rel.rel, 0) AS rel,
         power(2.0, COALESCE(rel.rel, 0)) - 1.0 AS gain,
         row_number() OVER (ORDER BY COALESCE(rel.rel, 0) DESC,
                            r.doc_id ASC) AS irank
  FROM ranked r LEFT JOIN rel ON rel.doc_id = r.doc_id
),
agg AS (
  SELECT
    CAST(CAST(SUM(CAST(CASE WHEN rank <= {NDCG_K}
         THEN round(gain / log2(rank + 1), 10) ELSE 0.0 END
         AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS dcg,
    CAST(CAST(SUM(CAST(CASE WHEN irank <= {NDCG_K}
         THEN round(gain / log2(irank + 1), 10) ELSE 0.0 END
         AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS idcg
  FROM scored
)
SELECT round(dcg, 6) AS dcg_10, round(idcg, 6) AS idcg_10,
       round(dcg / idcg, 6) AS ndcg_10
FROM agg
"""

EXT_QUERIES["retrieval_ndcg"] = q_retrieval_ndcg
EXT_ORACLES["retrieval_ndcg"] = ORACLE_RETRIEVAL_NDCG


LPA_ROUNDS = 4


def q_label_propagation(spark, sf_dir):
    """LABEL PROPAGATION communities over the verified near-dup graph
    ({r} synchronous rounds, deterministic tie-break): each node
    adopts the most frequent label among its neighbors, smallest label
    on ties — the cheap community detector that groups dup
    NEIGHBORHOODS (denser than connected components' reachability
    classes: CC merges everything touching, LPA keeps weakly-bridged
    clumps apart). Fixed round count + total tie order makes the
    trajectory bit-reproducible, so the oracle unrolls the same {r}
    rounds — the pagerank discipline applied to an argmax iteration.

    Plan: edges materialize once (eager localCheckpoint — candidate
    generation must not replay per round); each round is one equi-join
    + (node, label) count + per-node argmax window (high-cardinality
    partition key → parallel). At 100 TB each round would
    parquet-round-trip like connected_components."""
    pairs = _lsh_edges(spark, sf_dir)
    ed = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        ed.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("lab"))
    )
    order = [F.col("cnt").desc(), F.col("lab").asc()]
    for _ in range(LPA_ROUNDS):
        c = (
            ed.join(labels, ed["src"] == labels["node"])
            .select("dst", "lab")
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = top_k_per_group(c, "dst", order, 1).select(
            F.col("dst").alias("node"), "lab"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("community")
    )


def _lpa_oracle() -> str:
    steps = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        steps.append(
            f"""c{i} AS (
  SELECT e.dst AS node, p.lab AS lab, count(*) AS cnt
  FROM edges e JOIN {prev} p ON p.node = e.src
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lab ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    return f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          UNION ALL SELECT doc_b, doc_a FROM verified),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
{','.join(steps)}
SELECT node AS doc_id, lab AS community FROM {prev}
"""


EXT_QUERIES["label_propagation"] = q_label_propagation
EXT_ORACLES["label_propagation"] = _lpa_oracle().format(lsh=_lsh_ctes())


RERANK_QUERY_VEC_ID = 0


def q_bm25_dense_rerank(spark, sf_dir):
    """TWO-STAGE RETRIEVAL: lexical candidate generation → dense
    rerank — the shipping serving topology (BM25 narrows the corpus to
    20 candidates; the embedding model re-orders just those). Distinct
    from ``hybrid_search_rrf`` (which FUSES two full rankings): here
    the dense leg never sees the corpus, only the candidate list —
    the cost model that makes cross-encoder-class scorers affordable.
    The query vector is O(d) driver metadata embedded as literals
    (zero join, zero broadcast for the query side); candidate vectors
    join by id for the 20 rows only.

    100 TB notes: stage-2 cost is O(candidates·d) regardless of corpus
    size; the candidate join is an equi join keyed on the LIMIT-20
    frame."""
    cands = q_bm25_search(spark, sf_dir)
    qrow = (
        _vectors(spark, sf_dir, "vec_id", "qv", "qn")
        .filter(F.col("vec_id") == RERANK_QUERY_VEC_ID)
        .collect()[0]
    )
    qlit = F.array(*[F.lit(float(x)) for x in qrow["qv"]])
    qn = float(qrow["qn"])
    v = _vectors(spark, sf_dir, "vec_id", "cv", "cn").drop("label")
    scored = (
        cands.join(v, cands["doc_id"] == v["vec_id"])
        .select(
            "doc_id",
            "bm25",
            _cos(F.col("cv"), qlit, F.col("cn"), F.lit(qn)).alias(
                "cos_q"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cos_q").desc(), F.col("doc_id").asc())
    return scored.withColumn("rerank", F.row_number().over(w))


ORACLE_BM25_DENSE_RERANK = f"""
WITH cands AS ({ORACLE_BM25_SEARCH}),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {RERANK_QUERY_VEC_ID}),
scored AS (
  SELECT c.doc_id, c.bm25,
         round(list_cosine_similarity(
           CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])
         ), 6) AS cos_q
  FROM cands c
  JOIN embeddings e ON e.vec_id = c.doc_id
  CROSS JOIN q
)
SELECT doc_id, bm25, cos_q,
       CAST(row_number() OVER (ORDER BY cos_q DESC, doc_id ASC) AS INTEGER)
         AS rerank
FROM scored
"""

EXT_QUERIES["bm25_dense_rerank"] = q_bm25_dense_rerank
EXT_ORACLES["bm25_dense_rerank"] = ORACLE_BM25_DENSE_RERANK


def q_personalized_pagerank(spark, sf_dir):
    """PERSONALIZED PAGERANK from the benchmark seed set
    (doc_id % {mod} == 0 — the same seeds as ``graph_bfs_distance``):
    teleport mass returns to the SEEDS instead of uniformly, so the
    score is seed-proximity-weighted influence — the graded form of
    the BFS contamination radius (BFS answers "within k hops?"; PPR
    answers "how strongly coupled?", damping hop count smoothly).
    Same exact-decimal discipline as ``graph_pagerank``: 5 unrolled
    iterations, per-iteration neighbor sums through decimal(38,15),
    oracle replays the identical trajectory.

    100 TB: identical plan shape to graph_pagerank — edges+degrees
    materialize once, one equi-join + keyed aggregate per round; the
    seed indicator is scan-stage arithmetic."""
    pairs = _lsh_edges(spark, sf_dir)
    ed = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = (
        ed.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    is_seed = (F.col("node") % BFS_SEED_MOD == 0).cast("double")
    n_seeds = deg.filter(F.col("node") % BFS_SEED_MOD == 0).count()  # O(1) metadata
    if n_seeds == 0:
        return deg.select(
            F.col("node").alias("doc_id"), F.lit(0.0).alias("ppr")
        ).limit(0)
    tele = is_seed * F.lit((1.0 - PAGERANK_DAMPING) / float(n_seeds))
    edl = ed.join(deg.withColumnRenamed("node", "src"), "src")
    r = deg.select("node", tele.alias("r"))  # r0 = teleport vector
    for _ in range(PAGERANK_ITERS):
        contrib = edl.join(r, edl["src"] == r["node"]).select(
            "dst", (F.col("r") / F.col("deg")).alias("c")
        )
        summed = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(PAGERANK_DAMPING)
                * F.sum(F.col("c").cast("decimal(38,15)")).cast("double")
            ).alias("rs")
        )
        # teleport applies to every node's NEW score (seeds only)
        r = (
            deg.select("node", tele.alias("t"))
            .join(summed, "node", "left")
            .select(
                "node",
                (F.col("t") + F.coalesce(F.col("rs"), F.lit(0.0))).alias("r"),
            )
        )
    return r.select(F.col("node").alias("doc_id"), F.round("r", 8).alias("ppr"))


def _ppr_oracle() -> str:
    d = PAGERANK_DAMPING
    prev = "r0"
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"""s{i} AS (
  SELECT e.dst AS node,
         {d} * CAST(CAST(SUM(CAST({prev}.r / deg.deg AS DECIMAL(38,15)))
                    AS VARCHAR) AS DOUBLE) AS rs
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN deg ON deg.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT deg.node,
         (CASE WHEN deg.node % {BFS_SEED_MOD} = 0
               THEN {1.0 - d} / ns.n ELSE 0.0 END)
         + COALESCE(s{i}.rs, 0.0) AS r
  FROM deg CROSS JOIN ns LEFT JOIN s{i} ON s{i}.node = deg.node
)"""
        )
        prev = f"r{i}"
    return f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          UNION ALL SELECT doc_b, doc_a FROM verified),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
       WHERE node % {BFS_SEED_MOD} = 0),
r0 AS (SELECT node,
              CASE WHEN node % {BFS_SEED_MOD} = 0
                   THEN {1.0 - d} / ns.n ELSE 0.0 END AS r
       FROM deg CROSS JOIN ns),
{','.join(iters)}
SELECT node AS doc_id, round(r, 8) AS ppr FROM {prev}
"""


EXT_QUERIES["personalized_pagerank"] = q_personalized_pagerank
EXT_ORACLES["personalized_pagerank"] = _ppr_oracle().format(lsh=_lsh_ctes())


def q_corpus_datacard(spark, sf_dir):
    """CORPUS DATACARD: the one-row metadata sheet a dataset release
    ships with — volume (docs / tokens / chars), diversity (language
    and source counts, top-language token share), and contamination
    (exact-duplicate doc count and ratio). All integer/floor
    arithmetic; every number is re-derivable from the corpus, which is
    the point: the datacard is a QUERY, not a hand-maintained README
    table that drifts.

    100 TB notes: one tokenize pass feeds the token totals and
    per-lang rollup (bounded-domain key); the dup count is the exact
    content-hash groupBy; everything reduces to a single row."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toked = d.withColumn("__nt", F.size(F.expr(TOKENS_SPARK)).cast("long"))
    base = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
    )
    lang_top = (
        toked.groupBy("lang")
        .agg(F.sum("__nt").alias("lt"))
        .agg(F.max("lt").alias("top_lang_tokens"))
    )
    dups = (
        d.select(_h(F.concat(F.lit("dc:"), F.col("text"))).alias("th"))
        .groupBy("th")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("dup_docs"))
    )
    # single-row side frames enter as SCALAR SUBQUERIES, not 1x1 joins
    # (those become CartesianProduct once static broadcasts are off —
    # the sweep flagged exactly that on the first draft of this gate)
    return (
        base.withColumn("__top_lt", lang_top.scalar())
        .withColumn("dup_docs", dups.scalar())
        .select(
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            "n_sources",
            F.expr("n_tokens div n_docs").alias("mean_doc_tokens"),
            F.expr("__top_lt * 1000000 div n_tokens").alias(
                "top_lang_share_ppm"
            ),
            "dup_docs",
            F.expr("dup_docs * 1000000 div n_docs").alias("dup_ratio_ppm"),
        )
    )


ORACLE_CORPUS_DATACARD = f"""
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS nt,
         {H_SQL.format(x="'dc:' || text")} AS th
  FROM documents
),
base AS (
  SELECT count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources
  FROM t
),
lt AS (
  SELECT CAST(MAX(s) AS BIGINT) AS top_lang_tokens
  FROM (SELECT SUM(nt) AS s FROM t GROUP BY lang)
),
dup AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_docs
  FROM (SELECT count(*) AS c FROM t GROUP BY th HAVING count(*) > 1)
)
SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
       n_tokens // n_docs AS mean_doc_tokens,
       top_lang_tokens * 1000000 // n_tokens AS top_lang_share_ppm,
       dup_docs,
       dup_docs * 1000000 // n_docs AS dup_ratio_ppm
FROM base CROSS JOIN lt CROSS JOIN dup
"""

EXT_QUERIES["corpus_datacard"] = q_corpus_datacard
EXT_ORACLES["corpus_datacard"] = ORACLE_CORPUS_DATACARD


def q_graph_modularity(spark, sf_dir):
    """MODULARITY of the label-propagation communities — the eval
    metric for the graph family (as NDCG evals the ranking and
    calibration evals the classifier): Q = Σ_c [ e_c/m − (d_c/2m)² ]
    over the near-dup graph. Computed as an EXACT INTEGER RATIONAL:
    with S = Σ degrees = 2m, Q = (S·Σ intra_c − Σ d_c²) / S², and the
    gate emits (q_num, q_den) as bigints — no float division, no
    rounding rule to reconcile, and the sign convention of integer
    division never comes up. A positive Q confirms LPA found real
    structure (Q ≈ 0 is what random labels score).

    100 TB notes: one join of the edge list against the label table
    (both linear), two bounded-key aggregates; labels reuse the
    already-computed LPA trajectory."""
    labels = q_label_propagation(spark, sf_dir).localCheckpoint(eager=False)
    pairs = _lsh_edges(spark, sf_dir)
    ed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    la = labels.select(F.col("doc_id").alias("src"), F.col("community").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("dst"), F.col("community").alias("cb"))
    lab_edges = ed.join(la, "src").join(lb, "dst")
    intra = lab_edges.filter(F.col("ca") == F.col("cb")).agg(
        F.count(F.lit(1)).alias("intra")
    )
    dsum = (
        lab_edges.groupBy("ca")
        .agg(F.count(F.lit(1)).alias("dc"))
        .agg(
            F.sum(F.col("dc") * F.col("dc")).alias("d2"),
            F.sum("dc").alias("s"),
            F.count(F.lit(1)).alias("n_communities"),
        )
    )
    return dsum.withColumn("intra", intra.scalar()).select(
        "n_communities",
        F.expr("s div 2").alias("m_edges"),
        (F.col("s") * F.col("intra") - F.col("d2")).alias("q_num"),
        (F.col("s") * F.col("s")).alias("q_den"),
    )


ORACLE_GRAPH_MODULARITY = f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          UNION ALL SELECT doc_b, doc_a FROM verified),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
{{lpa_steps}},
lab_edges AS (
  SELECT a.lab AS ca, b.lab AS cb
  FROM edges e
  JOIN l{LPA_ROUNDS} a ON a.node = e.src
  JOIN l{LPA_ROUNDS} b ON b.node = e.dst
),
intra AS (SELECT count(*) AS intra FROM lab_edges WHERE ca = cb),
dsum AS (
  SELECT CAST(SUM(dc * dc) AS BIGINT) AS d2,
         CAST(SUM(dc) AS BIGINT) AS s,
         count(*) AS n_communities
  FROM (SELECT ca, count(*) AS dc FROM lab_edges GROUP BY ca)
)
SELECT n_communities, s // 2 AS m_edges,
       s * intra.intra - d2 AS q_num,
       s * s AS q_den
FROM dsum CROSS JOIN intra
"""


def _modularity_oracle() -> str:
    lpa = _lpa_oracle()
    # reuse the LPA oracle's unrolled step CTEs (between l0 and the
    # final SELECT), spliced into the modularity frame
    body = lpa.split("l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),")[1]
    steps = body.rsplit("SELECT node AS doc_id", 1)[0].rstrip().rstrip("\n")
    return ORACLE_GRAPH_MODULARITY.format(lsh=_lsh_ctes(), lpa_steps=steps)


EXT_QUERIES["graph_modularity"] = q_graph_modularity
EXT_ORACLES["graph_modularity"] = _modularity_oracle()


def q_pack_boundary_offsets(spark, sf_dir):
    """PACKED-SEQUENCE BOUNDARY MANIFEST: for every training pack, the
    ordered in-pack start offset of each document — the metadata a
    trainer needs to mask CROSS-DOCUMENT attention inside packed
    sequences (without it, packing silently lets doc N attend to doc
    N−1; the standard fix is block-diagonal masks built from exactly
    these offsets). Extends ``pack_training_sequences``: same
    distributed prefix-sum offsets, plus per-pack ordered arrays of
    (boundary offset, doc id).

    100 TB notes: identical plan to the packing gate plus one
    bounded-size ordered-struct collect per pack (a pack holds at most
    capacity/min_doc_tokens docs)."""
    from ..operators.ranking import global_prefix_sum

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.size(F.expr(TOKENS_SPARK)).alias("n_tokens"))
    pre = global_prefix_sum(toks, ["doc_id"], "n_tokens", out_col="__cum")
    binned = pre.withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / PACK_CAPACITY).cast("long"),
    ).withColumn(
        "in_off",
        (F.col("__cum") - F.col("n_tokens")) - F.col("bin_id") * PACK_CAPACITY,
    )
    packed = binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("in_off").cast("long").alias("o"),
                    F.col("doc_id").alias("d"),
                )
            )
        ).alias("__s"),
    )
    return packed.select(
        "bin_id",
        "n_docs",
        F.transform(F.col("__s"), lambda s: s["o"]).alias("boundaries"),
        F.transform(F.col("__s"), lambda s: s["d"]).alias("doc_ids"),
    )


ORACLE_PACK_BOUNDARY_OFFSETS = f"""
WITH toked AS (
  SELECT doc_id, len({TOKENS_DUCK}) AS n_tokens FROM documents
),
pre AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toked
),
binned AS (
  SELECT doc_id,
         CAST(floor((cum - n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS bin_id,
         CAST((cum - n_tokens)
              - floor((cum - n_tokens) / {PACK_CAPACITY}) * {PACK_CAPACITY}
              AS BIGINT) AS in_off
  FROM pre
)
SELECT bin_id, count(*) AS n_docs,
       list(in_off ORDER BY in_off, doc_id) AS boundaries,
       list(doc_id ORDER BY in_off, doc_id) AS doc_ids
FROM binned GROUP BY bin_id
"""

EXT_QUERIES["pack_boundary_offsets"] = q_pack_boundary_offsets
EXT_ORACLES["pack_boundary_offsets"] = ORACLE_PACK_BOUNDARY_OFFSETS


NEXT_EVENT_CTX = 3


def q_next_event_training_pairs(spark, sf_dir):
    """NEXT-EVENT TRAINING PAIRS: turn the event log into supervised
    (context → label) examples — for every event with ≥{n} predecessors
    in its user's (ts, event_id)-ordered history, the context is the
    previous {n} event types and the label is the current one. This is
    the dataset-builder for behavioral sequence models (the event-log
    analogue of next-token prediction), and the shape generalizes to
    any lag-feature extraction.

    100 TB notes: {n} lag() calls in ONE window pass per user
    (high-cardinality partition key → parallel; Spark fuses same-spec
    window functions into a single Window node); output is
    filter-bounded to rows with a full context."""
    from pyspark.sql import Window

    from .core import _events

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("long").alias("t"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    ctx = ev
    for i in range(1, NEXT_EVENT_CTX + 1):
        ctx = ctx.withColumn(f"ctx{i}", F.lag("event_type", i).over(w))
    return ctx.filter(
        F.col(f"ctx{NEXT_EVENT_CTX}").isNotNull()
    ).select(
        "user_id",
        "event_id",
        *[F.col(f"ctx{i}") for i in range(NEXT_EVENT_CTX, 0, -1)],
        F.col("event_type").alias("label"),
    )


ORACLE_NEXT_EVENT_TRAINING_PAIRS = f"""
WITH ev AS (
  SELECT user_id, {_epoch_sql()} AS t, event_id, event_type FROM events
),
ctx AS (
  SELECT user_id, event_id, event_type,
         lag(event_type, 1) OVER w AS ctx1,
         lag(event_type, 2) OVER w AS ctx2,
         lag(event_type, 3) OVER w AS ctx3
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT user_id, event_id, ctx3, ctx2, ctx1, event_type AS label
FROM ctx WHERE ctx3 IS NOT NULL
"""

EXT_QUERIES["next_event_training_pairs"] = q_next_event_training_pairs
EXT_ORACLES["next_event_training_pairs"] = ORACLE_NEXT_EVENT_TRAINING_PAIRS


def q_langid_confusion_matrix(spark, sf_dir):
    """LANG-ID CONFUSION MATRIX — the eval for the language-ID
    heuristic (each classifier in the engine now carries its eval:
    calibration for the quality model, NDCG for retrieval, modularity
    for communities, confusion for lang-id): per (true, predicted)
    cell counts plus per-true-language recall in exact ppm. The
    confusion matrix is what decides whether a lang-gated corpus
    split is trustworthy per language, not just on average.

    100 TB notes: one scan (the lang-id pass) + a |langs|²-bounded
    rollup; recall joins on the bounded-domain lang key."""
    pred = q_lang_id(spark, sf_dir)
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_total"))
    return (
        cells.join(totals, "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("n * 1000000 div lang_total").alias("cell_ppm"),
        )
    )


ORACLE_LANGID_CONFUSION_MATRIX = f"""
WITH pred AS ({ORACLE_LANG_ID}),
cells AS (
  SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2
),
totals AS (SELECT lang, count(*) AS lang_total FROM pred GROUP BY 1)
SELECT lang, lang_pred, n, n * 1000000 // lang_total AS cell_ppm
FROM cells JOIN totals USING (lang)
"""

EXT_QUERIES["langid_confusion_matrix"] = q_langid_confusion_matrix
EXT_ORACLES["langid_confusion_matrix"] = ORACLE_LANGID_CONFUSION_MATRIX


MATRYOSHKA_PREFIX = 32  # half of the 64-dim embedding


def q_embedding_matryoshka_agreement(spark, sf_dir):
    """MATRYOSHKA TRUNCATION SAFETY: can the first {p} of {d}
    embedding dimensions stand in for the full vector? For every
    vector, the IVF-blocked top-3 neighbors are computed under BOTH
    the full-d cosine and the prefix-{p} cosine (one shared candidate
    pass — the pairs and the heavy array move ONCE; only a second
    window differs), and the output is the corpus histogram of
    per-vector overlap@3 (0–3 shared neighbors). High mass at 3 means
    the index/serving path can run at half the memory bandwidth —
    the decision this measurement exists to make.

    100 TB notes: same two exchanges as the kNN-graph build; the
    prefix sim is computed in the same scored projection (no second
    pair materialization)."""
    from pyspark.sql import Window

    asg = _ivf_assignments(spark, sf_dir)
    q = (
        _vectors(spark, sf_dir, "query_id", "qv", "qn")
        .drop("label")
        .join(asg, F.col("query_id") == asg["vec_id"])
        .select("query_id", "qv", "qn", F.col("cid").alias("qlabel"))
    )
    cand = (
        _vectors(spark, sf_dir, "cand_id", "cv", "cn")
        .drop("label")
        .join(_ivf_assignments(spark, sf_dir), F.col("cand_id") == F.col("vec_id"))
        .select("cand_id", "cv", "cn", F.col("cid").alias("clabel"))
    )
    # half-prefix + its norm hoisted BEFORE the pair join (the
    # _vectors discipline: per-vector folds must not rerun per pair)
    q = q.withColumn("qh", F.slice(F.col("qv"), 1, MATRYOSHKA_PREFIX))
    q = q.withColumn("qhn", _norm(F.col("qh")))
    cand = cand.withColumn("ch", F.slice(F.col("cv"), 1, MATRYOSHKA_PREFIX))
    cand = cand.withColumn("chn", _norm(F.col("ch")))
    scored = (
        q.join(cand, F.col("qlabel") == F.col("clabel"))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos_full"),
            _cos(F.col("qh"), F.col("ch"), F.col("qhn"), F.col("chn")).alias("cos_half"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("cand_id").asc()
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.col("cos_half").desc(), F.col("cand_id").asc()
    )
    topped = scored.select(
        "query_id",
        (F.row_number().over(wf) <= 3).alias("in_full"),
        (F.row_number().over(wh) <= 3).alias("in_half"),
    )
    overlap = topped.groupBy("query_id").agg(
        F.sum((F.col("in_full") & F.col("in_half")).cast("long")).alias(
            "overlap3"
        )
    )
    return overlap.groupBy("overlap3").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


ORACLE_EMBEDDING_MATRYOSHKA_AGREEMENT = f"""
WITH a AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, qa.cid AS qcid
      FROM embeddings e JOIN a qa ON qa.vec_id = e.vec_id),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])), 6)
           AS cos_full,
         round(list_cosine_similarity(
             CAST(q.qv[1:{MATRYOSHKA_PREFIX}] AS DOUBLE[]),
             CAST(e.embedding[1:{MATRYOSHKA_PREFIX}] AS DOUBLE[])), 6)
           AS cos_half
  FROM q JOIN a ca ON ca.cid = q.qcid
  JOIN embeddings e ON e.vec_id = ca.vec_id
  WHERE e.vec_id <> q.query_id
),
topped AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, cand_id ASC) <= 3
           AS in_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_half DESC, cand_id ASC) <= 3
           AS in_half
  FROM scored
),
overlap AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN in_full AND in_half THEN 1 ELSE 0 END)
              AS BIGINT) AS overlap3
  FROM topped GROUP BY 1
)
SELECT overlap3, count(*) AS n_vectors FROM overlap GROUP BY 1
"""

EXT_QUERIES["embedding_matryoshka_agreement"] = q_embedding_matryoshka_agreement
EXT_ORACLES["embedding_matryoshka_agreement"] = (
    ORACLE_EMBEDDING_MATRYOSHKA_AGREEMENT
)


# ---------------------------------------------------------------------------
# k-core decomposition — graph pruning for the near-dup graph (drop
# weakly-connected fringe before expensive community analysis)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4


def q_graph_kcore(spark, sf_dir):
    """K-CORE PEEL over the verified near-dup graph: {r} synchronous
    rounds of "drop every node with degree < {k} in the surviving
    subgraph" — the standard pre-filter that strips pair-only fringe
    (degree-1 chains) off a graph before community detection pays for
    it. A node survives round i only if ≥ {k} of its neighbors survived
    round i-1, so the fixed-round trajectory is deterministic and the
    oracle unrolls the SAME rounds (the pagerank/LPA discipline).

    Plan: edges materialize once (eager localCheckpoint — candidate
    generation must not replay per round); each round is two left-semi
    joins (edge endpoints against the surviving set) + a count — no
    window at all. At 100 TB each round parquet-round-trips like
    connected_components; rounds are O(log-ish) in practice because
    peeling cascades.

    Ref: degeneracy/k-core as in Matula-Beck; fixed-round synchronous
    variant for cross-engine determinism."""
    pairs = _lsh_edges(spark, sf_dir)
    ed = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=True)
    )
    active = ed.select(F.col("src").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        live = (
            ed.join(
                active.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(
                active.select(F.col("node").alias("dst")), "dst", "left_semi"
            )
        )
        active = (
            live.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select(F.col("dst").alias("node"), "deg")
        )
    return active.select(
        F.col("node").alias("doc_id"), F.col("deg").alias("core_degree")
    )


def _kcore_oracle() -> str:
    steps = []
    prev = "a0"
    for i in range(1, KCORE_ROUNDS + 1):
        steps.append(
            f"""a{i} AS (
  SELECT e.dst AS node, count(*) AS deg
  FROM edges e
  JOIN {prev} s ON s.node = e.src
  JOIN {prev} t ON t.node = e.dst
  GROUP BY 1
  HAVING count(*) >= {KCORE_K}
)"""
        )
        prev = f"a{i}"
    return f"""
WITH {{lsh}},
{_VERIFIED_CTES.format(thr=JACCARD_THRESHOLD)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          UNION ALL SELECT doc_b, doc_a FROM verified),
a0 AS (SELECT DISTINCT src AS node FROM edges),
{','.join(steps)}
SELECT node AS doc_id, deg AS core_degree FROM {prev}
"""


EXT_QUERIES["graph_kcore"] = q_graph_kcore
EXT_ORACLES["graph_kcore"] = _kcore_oracle().format(lsh=_lsh_ctes())


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules — the shipping FILTER shape
# (per-rule flags + keep decision), distinct from text_quality's score
# ---------------------------------------------------------------------------

GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 1000
GOPHER_STOPWORDS = ("a", "the", "of", "and", "to", "in")


def q_gopher_rules_filter(spark, sf_dir):
    """GOPHER-STYLE RULE FILTER: the composite quality gate shipped as
    per-rule boolean flags plus the conjunctive keep decision — the
    operational form (you audit WHICH rule fired, not just a score;
    text_quality is the score twin). Rules, all exact integer
    arithmetic (no float thresholds, so the flags are bit-identical
    cross-engine):

      r_len    : token count in [{mn}, {mx}]
      r_wordlen: mean token length in [3, 10]  (10·Σlen vs 30n/100n)
      r_toprep : most frequent token ≤ 20% of tokens  (5·max ≤ n)
      r_diverse: distinct tokens ≥ 30% of tokens      (10·d ≥ 3n)
      r_stop   : contains ≥ 1 stopword

    (Rahm-style DQ rules after Gopher's repetition/length family:
    length, mean-word-length, top-token repetition, lexical diversity,
    stopword presence.)

    100 TB notes: explode → (doc, token) count → per-doc rollup: two
    map-side-combinable aggregations, no join, no window; the flags
    fold in the final projection. Token rows never carry text — only
    (doc_id, token)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.length("tok") * F.col("c")).alias("sum_len"),
        F.max("c").alias("top_count"),
        F.max(
            F.expr(f"CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END")
        ).alias("has_stop"),
    )
    flags = per_doc.select(
        "doc_id",
        "n_tokens",
        (
            (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
            & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
        ).alias("r_len"),
        (
            (F.col("sum_len") * 10 >= F.col("n_tokens") * 30)
            & (F.col("sum_len") * 10 <= F.col("n_tokens") * 100)
        ).alias("r_wordlen"),
        (F.col("top_count") * 5 <= F.col("n_tokens")).alias("r_toprep"),
        (F.col("n_distinct") * 10 >= F.col("n_tokens") * 3).alias("r_diverse"),
        (F.col("has_stop") == 1).alias("r_stop"),
    )
    return flags.withColumn(
        "keep",
        F.col("r_len")
        & F.col("r_wordlen")
        & F.col("r_toprep")
        & F.col("r_diverse")
        & F.col("r_stop"),
    )


ORACLE_GOPHER_RULES_FILTER = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK.replace('text', 'text')} AS __toks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(__toks) AS tok FROM t
),
per_tok AS (
  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         CAST(SUM(length(tok) * c) AS BIGINT) AS sum_len,
         max(c) AS top_count,
         max(CASE WHEN tok IN ({", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)})
                  THEN 1 ELSE 0 END) AS has_stop
  FROM per_tok GROUP BY 1
),
flags AS (
  SELECT doc_id, n_tokens,
         n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
           AS r_len,
         sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100
           AS r_wordlen,
         top_count * 5 <= n_tokens AS r_toprep,
         n_distinct * 10 >= n_tokens * 3 AS r_diverse,
         has_stop = 1 AS r_stop
  FROM per_doc
)
SELECT *, r_len AND r_wordlen AND r_toprep AND r_diverse AND r_stop AS keep
FROM flags
"""

EXT_QUERIES["gopher_rules_filter"] = q_gopher_rules_filter
EXT_ORACLES["gopher_rules_filter"] = ORACLE_GOPHER_RULES_FILTER


# ---------------------------------------------------------------------------
# Intra-document block dedup — C4-style "remove repeated spans WITHIN a
# page" cleanup (corpus-level dedup's in-document complement)
# ---------------------------------------------------------------------------

INTRA_BLOCK_W = 2  # tokens per block (2: the synthetic corpus repeats bigrams)


def q_intra_doc_block_dedup(spark, sf_dir):
    """INTRA-DOC BLOCK DEDUP: split each document into consecutive
    {w}-token blocks, drop every block whose text already appeared
    EARLIER in the same document (keep-first), and re-assemble the
    cleaned text — the within-page repetition cleanup C4 applies at the
    line level (block width is the only knob; {w} matches the
    synthetic corpus's repetition scale). Corpus-level dedup
    (dedup_passage_exact etc.) removes copies ACROSS documents; this
    removes a document's self-repetition — both run in a real cleanup
    pipeline.

    100 TB notes: blocks explode to (doc, idx, text) rows; first
    occurrence is a min-window partitioned by (doc, block_text) — high
    cardinality, parallel; reassembly is one per-doc sort_array over
    kept blocks (bounded by doc length). No join; text leaves the doc
    row only as block-sized strings."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    w = INTRA_BLOCK_W
    blocks = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST((size(__toks) + {w - 1}) DIV {w} "
                    f"AS INT) - 1), j -> concat_ws(' ', slice(__toks, j * {w} + 1, {w})))"
                )
            ).alias("j", "btxt"),
        )
    )
    from pyspark.sql import Window

    first = F.min("j").over(Window.partitionBy("doc_id", "btxt"))
    marked = blocks.withColumn("first_j", first)
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(
            F.when(F.col("j") != F.col("first_j"), 1).otherwise(0)
        ).alias("n_removed"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("j") == F.col("first_j"),
                            F.struct(F.col("j"), F.col("btxt")),
                        )
                    )
                ),
                lambda s: s["btxt"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


ORACLE_INTRA_DOC_BLOCK_DEDUP = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents
),
b AS (
  SELECT doc_id,
         unnest([{{'j': j, 'btxt': array_to_string(
                     __toks[j * {INTRA_BLOCK_W} + 1 : j * {INTRA_BLOCK_W} + {INTRA_BLOCK_W}], ' ')}}
                 FOR j IN range((len(__toks) + {INTRA_BLOCK_W - 1}) // {INTRA_BLOCK_W})],
                recursive := true)
  FROM t
),
m AS (
  SELECT doc_id, j, btxt,
         min(j) OVER (PARTITION BY doc_id, btxt) AS first_j
  FROM b
)
SELECT doc_id,
       count(*) AS n_blocks,
       CAST(SUM(CASE WHEN j <> first_j THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       string_agg(btxt, ' ' ORDER BY j) FILTER (WHERE j = first_j)
         AS cleaned_text
FROM m GROUP BY 1
"""

EXT_QUERIES["intra_doc_block_dedup"] = q_intra_doc_block_dedup
EXT_ORACLES["intra_doc_block_dedup"] = ORACLE_INTRA_DOC_BLOCK_DEDUP


# ---------------------------------------------------------------------------
# Span-corruption masks — T5-style denoising-objective data prep
# (deterministic mask draw, map-only, zero shuffle)
# ---------------------------------------------------------------------------

SPAN_BLOCK_W = 4   # tokens per maskable block
SPAN_MASK_MOD = 4  # 1/4 of blocks masked


def q_span_corruption_masks(spark, sf_dir):
    """SPAN-CORRUPTION MASKS: the T5 denoising-objective dataset
    builder — each document's token stream is cut into {w}-token
    blocks, a deterministic hash draw masks 1/{m} of them, and the
    operator emits the corrupted input (masked blocks replaced by the
    '<X>' sentinel) plus the target sequence (the masked blocks,
    sentinel-delimited). Fixed-block variant: spans are block-aligned
    and consecutive masked blocks keep their own sentinel (production
    span samplers collapse runs; block alignment keeps the draw
    reproducible from (doc_id, block_idx) alone — re-running on a
    grown corpus never re-masks old docs differently).

    100 TB notes: ENTIRELY map-side — mask draw, both reassemblies,
    and the counts are array expressions inside one projection; zero
    shuffle, zero UDF, whole-stage codegen end to end. The mask is
    md5-derived from (doc_id, block_idx) — the portable-hash
    discipline every sampling gate here uses."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    w, m = SPAN_BLOCK_W, SPAN_MASK_MOD
    blk_hash = (
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(s.j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .withColumn(
            "__blocks",
            F.expr(
                f"transform(sequence(0, CAST((size(__toks) + {w - 1}) DIV {w} AS INT) - 1), "
                f"j -> struct(j AS j, concat_ws(' ', slice(__toks, j * {w} + 1, {w})) AS btxt))"
            ),
        )
        .withColumn(
            "__marked",
            F.expr(
                f"transform(__blocks, s -> struct(s.j AS j, s.btxt AS btxt, "
                f"{blk_hash} % {m} = 0 AS masked))"
            ),
        )
        .select(
            "doc_id",
            F.expr("size(__marked)").alias("n_blocks"),
            F.expr("size(filter(__marked, s -> s.masked))").alias("n_masked"),
            F.expr(
                "array_join(transform(__marked, s -> "
                "IF(s.masked, '<X>', s.btxt)), ' ')"
            ).alias("corrupted_text"),
            F.expr(
                "array_join(transform(filter(__marked, s -> s.masked), "
                "s -> s.btxt), ' <X> ')"
            ).alias("targets_text"),
            F.expr(
                "CAST(size(filter(__marked, s -> s.masked)) * 1000000 "
                "DIV size(__marked) AS BIGINT)"
            ).alias("masked_ppm"),
        )
    )


ORACLE_SPAN_CORRUPTION_MASKS = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS __toks FROM documents
),
b AS (
  SELECT doc_id,
         [{{'j': j,
            'btxt': array_to_string(
              __toks[j * {SPAN_BLOCK_W} + 1 : j * {SPAN_BLOCK_W} + {SPAN_BLOCK_W}], ' '),
            'masked': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                           CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                      % {SPAN_MASK_MOD} = 0}}
          FOR j IN range((len(__toks) + {SPAN_BLOCK_W - 1}) // {SPAN_BLOCK_W})]
           AS marked
  FROM t
)
SELECT doc_id,
       len(marked) AS n_blocks,
       len(list_filter(marked, s -> s.masked)) AS n_masked,
       array_to_string([CASE WHEN s.masked THEN '<X>' ELSE s.btxt END
                        FOR s IN marked], ' ') AS corrupted_text,
       COALESCE(array_to_string([s.btxt FOR s IN marked IF s.masked],
                               ' <X> '), '') AS targets_text,
       CAST(len(list_filter(marked, s -> s.masked)) * 1000000
            // len(marked) AS BIGINT) AS masked_ppm
FROM b
"""

EXT_QUERIES["span_corruption_masks"] = q_span_corruption_masks
EXT_ORACLES["span_corruption_masks"] = ORACLE_SPAN_CORRUPTION_MASKS


# ---------------------------------------------------------------------------
# χ² token selection — per-language discriminative vocabulary (the
# classic feature-selection pass before training a lang/domain
# classifier on bag-of-words)
# ---------------------------------------------------------------------------

CHI2_TOP_K = 10


def q_chi2_token_selection(spark, sf_dir):
    """χ² TOKEN SELECTION: for every (language, token) 2×2 document
    contingency table, score association with

        χ² = N · (n11·n00 − n10·n01)² / (r1·r2·c1·c2)

    and keep each language's top-{k} tokens — the classic
    feature-selection pass (Manning/Schütze IR ch. 13 shape) before a
    bag-of-words classifier. Determinism: every count ≤ N is an exact
    double; phi = n11·n00 − n10·n01 is computed in BIGINT (≤ N²,
    exact), then the score is built on doubles with a FIXED
    parenthesization — each intermediate is one correctly-rounded IEEE
    op, so both engines produce the bit-identical double (the
    grouped_linear_trend discipline; an exact-integer χ²·1e6 would
    need int128 division, which the engines floor differently).

    100 TB notes: doc-level presence (distinct doc-token) explodes
    once; token document-frequency is a corpus-derived join side →
    pinned shuffle_hash; language doc counts are a bounded-domain
    aggregate (explicit broadcast class); N rides as a scalar
    subquery. Per-language top-k uses ``grouped_rank`` — languages are
    low-cardinality, a PARTITION BY lang window would collapse each
    language's whole vocabulary onto one task."""
    from ..operators.ranking import grouped_rank

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    doc_tok = (
        d.withColumn("__toks", F.expr(TOKENS_SPARK))
        .select("doc_id", "lang", F.explode(F.expr("array_distinct(__toks)")).alias("tok"))
    )
    lt = doc_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n11"))
    tok_df = doc_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    lang_docs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("r1"))
    n_total = d.select(F.count(F.lit(1)).alias("n"))
    scored = (
        lt.join(tok_df.hint("shuffle_hash"), "tok")
        .join(F.broadcast(lang_docs), "lang")
        .withColumn("__N", n_total.scalar())
        .withColumn("n10", F.col("c1") - F.col("n11"))
        .withColumn("n01", F.col("r1") - F.col("n11"))
        .withColumn(
            "n00", F.col("__N") - F.col("r1") - F.col("c1") + F.col("n11")
        )
        .withColumn(
            "phi", F.expr("n11 * n00 - n10 * n01")  # bigint, exact
        )
        .withColumn(
            "chi2",
            F.expr(
                "((CAST(phi AS DOUBLE) * CAST(phi AS DOUBLE)) * CAST(__N AS DOUBLE)) / "
                "((CAST(r1 AS DOUBLE) * CAST(__N - r1 AS DOUBLE)) * "
                "(CAST(c1 AS DOUBLE) * CAST(__N - c1 AS DOUBLE)))"
            ),
        )
    )
    ranked, _ = grouped_rank(
        scored.select(
            "lang", "tok", "n11", "phi", "chi2",
            # grouped_rank sorts ascending on column names: descending
            # chi2 via exact IEEE negation (sign flip, no rounding)
            (-F.col("chi2")).alias("__neg_chi2"),
        ),
        ["lang"],
        ["__neg_chi2", "tok"],
        rank_col="rk",
    )
    return ranked.filter(F.col("rk") <= CHI2_TOP_K).select(
        "lang", "tok", "n11", "phi", "chi2", F.col("rk").alias("rank_in_lang")
    )


ORACLE_CHI2_TOKEN_SELECTION = f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS_DUCK} AS __toks FROM documents
),
doc_tok AS (
  SELECT DISTINCT doc_id, lang, unnest(list_distinct(__toks)) AS tok FROM t
),
lt AS (SELECT lang, tok, count(*) AS n11 FROM doc_tok GROUP BY 1, 2),
tok_df AS (SELECT tok, count(*) AS c1 FROM doc_tok GROUP BY 1),
lang_docs AS (SELECT lang, count(*) AS r1 FROM documents GROUP BY 1),
n AS (SELECT count(*) AS total FROM documents),
scored AS (
  SELECT lang, tok, n11,
         n11 * (total - r1 - c1 + n11) - (c1 - n11) * (r1 - n11) AS phi,
         ((CAST(n11 * (total - r1 - c1 + n11) - (c1 - n11) * (r1 - n11)
                AS DOUBLE) *
           CAST(n11 * (total - r1 - c1 + n11) - (c1 - n11) * (r1 - n11)
                AS DOUBLE)) * CAST(total AS DOUBLE)) /
         ((CAST(r1 AS DOUBLE) * CAST(total - r1 AS DOUBLE)) *
          (CAST(c1 AS DOUBLE) * CAST(total - c1 AS DOUBLE))) AS chi2
  FROM lt JOIN tok_df USING (tok)
          JOIN lang_docs USING (lang)
          CROSS JOIN n
)
SELECT lang, tok, n11, phi, chi2, rank_in_lang
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY chi2 DESC, tok ASC)
              AS rank_in_lang
  FROM scored
)
WHERE rank_in_lang <= {CHI2_TOP_K}
"""

EXT_QUERIES["chi2_token_selection"] = q_chi2_token_selection
EXT_ORACLES["chi2_token_selection"] = ORACLE_CHI2_TOKEN_SELECTION


# ---------------------------------------------------------------------------
# Count-Min sketch — the frequency-estimation member of the mergeable
# sketch family (HLL = distinct, Misra-Gries = top-k, GK = quantiles,
# CM = point frequency with one-sided error)
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 64


def q_count_min_sketch(spark, sf_dir):
    """COUNT-MIN SKETCH frequency estimates for per-user event counts:
    build a {d}×{w} counter grid (depth = independent hash rows, width
    = buckets), estimate each key's count as the MIN over its {d}
    counters, and report estimate vs truth — the one-sided-error
    contract (estimate ≥ truth, overflow only from bucket collisions)
    is the gate: the oracle recomputes the identical grid, so a wrong
    hash, a lost increment, or a wrong min all break the hash, and a
    dedicated test pins estimate ≥ truth row-by-row.

    The sketch property that matters at 100 TB: counters are SUMS, so
    partial grids merge associatively across partitions/streams — the
    fixed-size mergeable-state shape of the whole sketch family
    (operators/sketches.py). Cost: per-key rollup (map-side
    combinable), then {d} hash rows per DISTINCT key into a {d}·{w}
    grid; the grid is O(1) state and enters the estimate join pinned
    shuffle_hash (d·w rows by construction, but a hash-mod key's
    boundedness is not provable from plan text — the
    contrastive_negatives verdict — so it stays off the broadcast
    path).

    Ref sketch family: Cormode-Muthukrishnan CM sketch."""
    from .core import _events

    ev = _events(spark, sf_dir)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    rows = per_key.select(
        "user_id",
        "true_count",
        F.explode(
            F.expr(
                f"transform(sequence(0, {CM_DEPTH - 1}), i -> "
                f"struct(i AS i, CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', "
                f"CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CM_WIDTH} AS b))"
            )
        ).alias("h"),
    ).select("user_id", "true_count", F.col("h.i").alias("i"), F.col("h.b").alias("b"))
    grid = rows.groupBy("i", "b").agg(F.sum("true_count").alias("counter"))
    est = (
        # the grid is 256 rows by construction (d x w literal
        # constants), but boundedness via a hash-mod key is not provable
        # from plan text — same verdict as contrastive_negatives'
        # bucket table — so it joins via shuffle_hash, never broadcast
        rows.join(grid.hint("shuffle_hash"), ["i", "b"])
        .groupBy("user_id", "true_count")
        .agg(F.min("counter").alias("cm_estimate"))
    )
    return est.select(
        "user_id",
        "true_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_count")).alias("overestimate"),
    )


ORACLE_COUNT_MIN_SKETCH = f"""
WITH per_key AS (
  SELECT user_id, count(*) AS true_count FROM events GROUP BY 1
),
rows_h AS (
  SELECT user_id, true_count, i,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {CM_WIDTH} AS b
  FROM per_key, range({CM_DEPTH}) r(i)
),
grid AS (
  SELECT i, b, CAST(SUM(true_count) AS BIGINT) AS counter
  FROM rows_h GROUP BY 1, 2
)
SELECT user_id, true_count,
       min(counter) AS cm_estimate,
       min(counter) - true_count AS overestimate
FROM rows_h JOIN grid USING (i, b)
GROUP BY user_id, true_count
"""

EXT_QUERIES["count_min_sketch"] = q_count_min_sketch
EXT_ORACLES["count_min_sketch"] = ORACLE_COUNT_MIN_SKETCH


# ---------------------------------------------------------------------------
# Streaming Count-Min — the sketch family's mergeability made real:
# one PARTIAL grid per micro-batch, summed at serve time
# ---------------------------------------------------------------------------


def q_streaming_count_min(spark, sf_dir):
    """STREAMING COUNT-MIN: each micro-batch builds its own partial
    {d}×{w} counter grid from ONLY that batch's events (per-batch
    overwrite directory — idempotent replay, the quarantine-sink
    discipline); at serve time the partial grids SUM cell-wise into
    the corpus grid and estimates are read off the merged counters.
    Because CM counters are linear, the merged estimate is PROVEN
    equal to the batch operator: the oracle is ``count_min_sketch``'s
    verbatim — segmentation must be invisible to readers, the same
    contract the LSM index segments pin.

    100 TB notes: per-batch work is proportional to batch bytes; the
    merge reads {d}·{w}·n_batches fixed-size rows — this cell-wise
    SUM-merge is exactly how per-executor partial sketches combine on
    a real cluster, so the gate exercises the 1000-executor merge path
    on local[32]."""
    from .core import _events

    def build_grid(batch_df, _):
        rows = batch_df.select(
            "user_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {CM_DEPTH - 1}), i -> "
                    f"struct(i AS i, CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', "
                    f"CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CM_WIDTH} AS b))"
                )
            ).alias("h"),
        ).select(F.col("h.i").alias("i"), F.col("h.b").alias("b"))
        return rows.groupBy("i", "b").agg(F.count(F.lit(1)).alias("counter"))

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    merged = (
        replay(spark, "streaming_count_min", ev, "event_id", build_grid)
        .groupBy("i", "b")
        .agg(F.sum("counter").alias("counter"))
    )
    per_key = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    probes = per_key.select(
        "user_id",
        "true_count",
        F.explode(
            F.expr(
                f"transform(sequence(0, {CM_DEPTH - 1}), i -> "
                f"struct(i AS i, CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', "
                f"CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CM_WIDTH} AS b))"
            )
        ).alias("h"),
    ).select("user_id", "true_count", F.col("h.i").alias("i"), F.col("h.b").alias("b"))
    est = (
        probes.join(merged.hint("shuffle_hash"), ["i", "b"])
        .groupBy("user_id", "true_count")
        .agg(F.min("counter").alias("cm_estimate"))
    )
    return est.select(
        "user_id",
        "true_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_count")).alias("overestimate"),
    )


# segmentation must be reader-invisible: the batch sketch's truth
ORACLE_STREAMING_COUNT_MIN = ORACLE_COUNT_MIN_SKETCH

EXT_QUERIES["streaming_count_min"] = q_streaming_count_min
EXT_ORACLES["streaming_count_min"] = ORACLE_STREAMING_COUNT_MIN


# ---------------------------------------------------------------------------
# Per-key cap sampling — "at most N docs per source" (the domain
# over-representation cap every crawl-mix pipeline applies)
# ---------------------------------------------------------------------------

CAP_PER_SOURCE = 20


def q_per_key_cap_sample(spark, sf_dir):
    """PER-KEY CAP SAMPLE: keep at most {n} documents per source,
    chosen by a deterministic hash order (re-running on a grown corpus
    keeps a stable preference order rather than re-rolling the whole
    sample) — the anti-over-representation cap that complements
    fraction-based ``stratified_sample`` (a fraction still lets a
    giant crawl domain dominate; a CAP bounds every domain's
    contribution absolutely, the domain_mixture/UniMax admission
    shape).

    100 TB notes: per-source positions come from ``grouped_rank`` —
    sources are low-cardinality, so a PARTITION BY source window would
    put each domain's full corpus on one task; the rank path is
    range-partitioned and the cap filter drops everything past {n}
    per key. No join anywhere."""
    from ..operators.ranking import grouped_rank

    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        _h(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))).alias(
            "__h"
        ),
    )
    ranked, _ = grouped_rank(
        d, ["source"], ["__h", "doc_id"], rank_col="sample_rank"
    )
    return ranked.filter(F.col("sample_rank") <= CAP_PER_SOURCE).select(
        "doc_id", "source", "sample_rank"
    )


ORACLE_PER_KEY_CAP_SAMPLE = f"""
WITH h AS (
  SELECT doc_id, source,
         {H_SQL.format(x="'cap:' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
           AS sample_rank
  FROM h
)
SELECT doc_id, source, sample_rank FROM r
WHERE sample_rank <= {CAP_PER_SOURCE}
"""

EXT_QUERIES["per_key_cap_sample"] = q_per_key_cap_sample
EXT_ORACLES["per_key_cap_sample"] = ORACLE_PER_KEY_CAP_SAMPLE


# ---------------------------------------------------------------------------
# Tokenizer fertility per language — the per-language budget table a
# multilingual mixing planner (UniMax etc.) actually consumes
# ---------------------------------------------------------------------------


def q_tokenizer_fertility(spark, sf_dir):
    """TOKENIZER FERTILITY by language: pieces-per-word and
    chars-per-piece for the learned BPE, rolled up per language — the
    table that decides per-language token budgets (a language with
    fertility 2× costs twice the compute per word; UniMax-style
    planners consume exactly this). Reuses ``bpe_tokenize_apply``'s
    merge fold verbatim (same merge list, same two-pass
    separator-replace — any divergence between this rollup and the
    per-doc gate would break BOTH oracles), then aggregates to the
    bounded language domain with exact floor-ppm ratios.

    100 TB notes: map-only fold (whole-stage codegen, zero Python) →
    one bounded-domain aggregate on lang; no join anywhere. Output is
    |languages| rows at any corpus size."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    words = d.select(
        "lang", F.explode(F.expr(TOKENS_SPARK)).alias("w")
    )
    sep = BPE_SEP
    sym = F.concat(
        F.lit(sep),
        F.array_join(F.expr("transform(split(w, ''), c -> c)"), sep),
        F.lit(sep),
    )
    for a, b in BPE_APPLY_MERGES:
        for _ in range(2):  # a != b: two passes reach the greedy fixpoint
            sym = F.replace(
                sym, F.lit(f"{sep}{a}{sep}{b}{sep}"), F.lit(f"{sep}{a}{b}{sep}")
            )
    n_sym = F.size(F.split(F.expr(f"trim(BOTH '{sep}' FROM __sym)"), sep))
    return (
        words.select(
            "lang", F.length("w").alias("n_chars"), sym.alias("__sym")
        )
        .select("lang", "n_chars", n_sym.alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n").alias("n_pieces"),
            F.expr(
                "CAST(SUM(n) * 1000000 DIV COUNT(1) AS BIGINT)"
            ).alias("pieces_per_word_ppm"),
            F.expr(
                "CAST(SUM(n_chars) * 1000000 DIV SUM(n) AS BIGINT)"
            ).alias("chars_per_piece_ppm"),
        )
    )


def _fertility_oracle() -> str:
    sep = BPE_SEP
    expr = (
        f"'{sep}' || array_to_string("
        f"string_split_regex(w, ''), '{sep}') || '{sep}'"
    )
    for a, b in BPE_APPLY_MERGES:
        for _ in range(2):
            expr = (
                f"replace({expr}, '{sep}{a}{sep}{b}{sep}', '{sep}{a}{b}{sep}')"
            )
    return f"""
WITH words AS (
  SELECT lang, unnest({TOKENS_DUCK}) AS w FROM documents
),
toks AS (
  SELECT lang, length(w) AS n_chars,
         length(string_split(trim({expr}, '{sep}'), '{sep}')) AS n
  FROM words
)
SELECT lang,
       count(*) AS n_words,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n) AS BIGINT) AS n_pieces,
       CAST(SUM(n) * 1000000 // count(*) AS BIGINT) AS pieces_per_word_ppm,
       CAST(SUM(n_chars) * 1000000 // SUM(n) AS BIGINT)
         AS chars_per_piece_ppm
FROM toks GROUP BY 1
"""


EXT_QUERIES["tokenizer_fertility"] = q_tokenizer_fertility
EXT_ORACLES["tokenizer_fertility"] = _fertility_oracle()


# ---------------------------------------------------------------------------
# Funnel step-latency percentiles — the "how long do conversions take"
# distribution on top of the funnel's who-converted counts
# ---------------------------------------------------------------------------

def q_funnel_time_percentiles(spark, sf_dir):
    """FUNNEL STEP-LATENCY PERCENTILES: exact nearest-rank p50/p90 of
    the view→click and click→purchase conversion latencies (seconds),
    one row per step — the time-to-convert distribution product teams
    read next to the funnel's depth counts. Nearest-rank k = ceil(p·n)
    on exact integer latencies: no interpolation, no floats, so the
    percentiles are bit-identical cross-engine.

    100 TB notes: reuses the funnel's user-keyed min-aggregate chain,
    then ranks latencies per step via ``grouped_rank`` (two steps =
    low-cardinality partition key; a PARTITION BY step window would
    put ALL converting users on two tasks); the selection compares
    integer rank·denominator against n, and the final rollup is one
    bounded aggregate. The step-count table joins back on the step key
    (shuffle — 2 keys, trivially small either way)."""
    from ..operators.ranking import grouped_rank
    from .core import FUNNEL_STEP_WINDOW_S, _events

    e = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_type"
    )
    W = FUNNEL_STEP_WINDOW_S
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("t") >= F.col("t1")) & (F.col("t") <= F.col("t1") + W))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("t") >= F.col("t2")) & (F.col("t") <= F.col("t2") + W))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    lat12 = s2.join(s1, "user_id").select(
        F.lit("view_to_click").alias("step"),
        (F.col("t2") - F.col("t1")).alias("lat_s"),
        "user_id",
    )
    lat23 = s3.join(s2, "user_id").select(
        F.lit("click_to_purchase").alias("step"),
        (F.col("t3") - F.col("t2")).alias("lat_s"),
        "user_id",
    )
    lat = lat12.unionByName(lat23)
    ranked, _ = grouped_rank(lat, ["step"], ["lat_s", "user_id"], rank_col="rk")
    counts = lat.groupBy("step").agg(F.count(F.lit(1)).alias("n"))
    j = ranked.join(counts, "step")
    # nearest-rank k = ceil(p·n/100): rk == k ⇔ rk·100 >= p·n AND
    # (rk-1)·100 < p·n — all-integer comparisons
    return j.groupBy("step").agg(
        F.max("n").alias("n_conversions"),
        F.max(
            F.when(
                (F.col("rk") * 100 >= F.col("n") * 50)
                & ((F.col("rk") - 1) * 100 < F.col("n") * 50),
                F.col("lat_s"),
            )
        ).alias("p50_s"),
        F.max(
            F.when(
                (F.col("rk") * 100 >= F.col("n") * 90)
                & ((F.col("rk") - 1) * 100 < F.col("n") * 90),
                F.col("lat_s"),
            )
        ).alias("p90_s"),
    )


ORACLE_FUNNEL_TIME_PERCENTILES = f"""
WITH e AS (SELECT user_id, {_epoch_sql()} AS t, event_type FROM events),
s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND t >= t1 AND t <= t1 + 86400
       GROUP BY 1),
s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND t >= t2 AND t <= t2 + 86400
       GROUP BY 1),
lat AS (
  SELECT 'view_to_click' AS step, t2 - t1 AS lat_s, user_id
  FROM s2 JOIN s1 USING (user_id)
  UNION ALL
  SELECT 'click_to_purchase', t3 - t2, user_id
  FROM s3 JOIN s2 USING (user_id)
),
ranked AS (
  SELECT step, lat_s,
         row_number() OVER (PARTITION BY step ORDER BY lat_s, user_id)
           AS rk,
         count(*) OVER (PARTITION BY step) AS n
  FROM lat
)
SELECT step,
       max(n) AS n_conversions,
       max(CASE WHEN rk * 100 >= n * 50 AND (rk - 1) * 100 < n * 50
                THEN lat_s END) AS p50_s,
       max(CASE WHEN rk * 100 >= n * 90 AND (rk - 1) * 100 < n * 90
                THEN lat_s END) AS p90_s
FROM ranked GROUP BY 1
"""

EXT_QUERIES["funnel_time_percentiles"] = q_funnel_time_percentiles
EXT_ORACLES["funnel_time_percentiles"] = ORACLE_FUNNEL_TIME_PERCENTILES


# ---------------------------------------------------------------------------
# CUSUM changepoint detection — "when did this metric's level shift"
# over the daily event volumes (integer-exact, no float statistics)
# ---------------------------------------------------------------------------


def q_changepoint_cusum(spark, sf_dir):
    """CUSUM CHANGEPOINT per event type: the day d maximizing
    |Σ_{i≤d}(c_i − μ)| over the daily volume series — the classic
    level-shift locator (a flat series wanders near 0; a mean shift
    makes the cumulative deviation peak AT the shift). Exactness: with
    D days and total T, CUSUM_d·D = D·prefix_d − d_idx·T is pure
    integer — the statistic is scaled by D instead of dividing by it,
    so no float enters and ties break on the earliest day,
    bit-identical cross-engine.

    100 TB notes: the scan collapses to a (type, day) daily rollup
    FIRST (map-side combinable; days·|types| rows at any corpus size);
    the prefix/argmax windows run on that post-aggregate frame — the
    event_transition_matrix precedent: windows over bounded frames
    beat joins. Day is integer epoch-day (t DIV 86400): no calendar,
    no timezone surface."""
    from pyspark.sql import Window

    from .core import _events

    daily = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.expr("CAST(CAST(ts AS LONG) DIV 86400 AS BIGINT)").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = Window.partitionBy("event_type")
    wp = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily.withColumn("total", F.sum("c").over(wt))
        .withColumn("n_days", F.count(F.lit(1)).over(wt))
        .withColumn("prefix", F.sum("c").over(wp))
        .withColumn("d_idx", F.row_number().over(wp))
        .withColumn(
            "s_scaled",
            F.col("n_days") * F.col("prefix") - F.col("d_idx") * F.col("total"),
        )
    )
    pick = [F.abs(F.col("s_scaled")).desc(), F.col("day").asc()]
    return (
        top_k_per_group(scored, "event_type", pick, 1, "__rk")
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            "s_scaled",
            "n_days",
            "total",
        )
    )


ORACLE_CHANGEPOINT_CUSUM = f"""
WITH daily AS (
  SELECT event_type, {_epoch_sql()} // 86400 AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         SUM(c) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         SUM(c) OVER (PARTITION BY event_type ORDER BY day) AS prefix,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS d_idx
  FROM daily
),
s AS (
  SELECT event_type, day,
         CAST(n_days * prefix - d_idx * total AS BIGINT) AS s_scaled,
         n_days, CAST(total AS BIGINT) AS total
  FROM scored
)
SELECT event_type, day AS change_day, s_scaled, n_days, total
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(s_scaled) DESC, day ASC) AS rk
  FROM s
)
WHERE rk = 1
"""

EXT_QUERIES["changepoint_cusum"] = q_changepoint_cusum
EXT_ORACLES["changepoint_cusum"] = ORACLE_CHANGEPOINT_CUSUM


# ---------------------------------------------------------------------------
# Stratified k-fold assignment — EXACTLY balanced CV folds per stratum
# (hash-mod splits are only balanced in expectation)
# ---------------------------------------------------------------------------

KFOLD_K = 5


def q_stratified_kfold(spark, sf_dir):
    """STRATIFIED K-FOLD: fold = (per-stratum hash-order rank − 1)
    mod {k} — every (language, fold) cell differs from its stratum's
    mean by AT MOST ONE row, the exact-balance guarantee hash-mod
    bucketing (``deterministic_split``) cannot give (mod splits are
    balanced only in expectation; a small stratum can land 0 rows in a
    fold). The hash order makes assignment deterministic and
    re-run-safe; round-robin over the rank makes it exactly balanced.

    100 TB notes: per-stratum ranks via ``grouped_rank`` (languages are
    low-cardinality — the PARTITION BY lang window collapse again);
    everything else is map-side arithmetic. Output is row-level
    (doc_id, lang, fold) — the manifest a CV trainer consumes."""
    from ..operators.ranking import grouped_rank

    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        _h(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))).alias(
            "__h"
        ),
    )
    ranked, _ = grouped_rank(d, ["lang"], ["__h", "doc_id"], rank_col="__rk")
    return ranked.select(
        "doc_id",
        "lang",
        ((F.col("__rk") - 1) % KFOLD_K).cast("int").alias("fold"),
    )


ORACLE_STRATIFIED_KFOLD = f"""
WITH h AS (
  SELECT doc_id, lang,
         {H_SQL.format(x="'fold:' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang, CAST((rk - 1) % {KFOLD_K} AS INTEGER) AS fold FROM r
"""

EXT_QUERIES["stratified_kfold"] = q_stratified_kfold
EXT_ORACLES["stratified_kfold"] = ORACLE_STRATIFIED_KFOLD


# ---------------------------------------------------------------------------
# PNG decode — a REAL compressed image format with zero codec
# libraries: DEFLATE is python-stdlib zlib, the rest is chunk walking
# and scanline unfiltering (closes part of KNOWN_LIMITS §3's
# "compressed formats" gap)
# ---------------------------------------------------------------------------


def _png_width_height(doc_id: int) -> tuple[int, int]:
    return 6 + doc_id % 11, 4 + doc_id % 8


def _png_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (doc_id * 5 + x * 19 + y * 37) % 256,
        (doc_id * 13 + x * 7 + y * 11) % 256,
        (doc_id * 23 + x * 3 + y * 29) % 256,
    )


def _png_bytes(doc_id: int) -> bytes:
    """Real PNG: signature, IHDR (8-bit RGB, no interlace), the pixel
    stream DEFLATE-compressed into TWO IDAT chunks (readers must
    concatenate), per-row filter bytes — type 0 (None) on even rows,
    type 1 (Sub) on odd rows so a decoder that skips unfiltering
    produces wrong pixels — and real CRC-32s on every chunk."""
    w, h = _png_width_height(doc_id)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(_png_pixel(doc_id, x, y))
        if y % 2 == 0:
            raw += b"\x00" + bytes(row)
        else:  # Sub filter: byte minus the byte one PIXEL (3 bytes) left
            filt = bytearray(row)
            for i in range(len(row) - 1, 2, -1):
                filt[i] = (row[i] - row[i - 3]) % 256
            raw += b"\x01" + bytes(filt)
    comp = zlib.compress(bytes(raw), 6)
    half = len(comp) // 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:half])
        + chunk(b"IDAT", comp[half:])
        + chunk(b"IEND", b"")
    )


def _decode_png(doc_id, buf: bytes):
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError(f"doc {doc_id}: not a PNG payload")
    pos, idat, w = 8, b"", None
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        typ = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"doc {doc_id}: CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            w, h, depth, ctype, _, _, ilace = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, ilace) != (8, 2, 0):
                raise ValueError(f"doc {doc_id}: unsupported PNG variant")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    rows = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    pix = np.empty((h, w * 3), dtype=np.uint8)
    for y in range(h):
        filt, row = rows[y, 0], rows[y, 1:].copy()
        if filt == 1:  # Sub: add the byte one pixel left
            for i in range(3, len(row)):
                row[i] = (int(row[i]) + int(row[i - 3])) % 256
        elif filt != 0:
            raise ValueError(f"doc {doc_id}: filter {filt}")
        pix[y] = row
    return [(doc_id, w, h, w * h, _luma(pix.reshape(h, w, 3).astype(np.int64)))]


def q_multimodal_decode_png(spark, sf_dir):
    """COMPRESSED-IMAGE DECODE over a binary column: encodes a real
    PNG per document (DEFLATE-compressed scanlines split across two
    IDAT chunks, alternating None/Sub row filters, real CRC-32s), then
    an independent mapInPandas stage decodes the ACTUAL bytes —
    signature check, chunk walk with CRC verification, multi-IDAT
    concatenation, zlib inflate, per-row UNFILTERING (Sub adds the
    byte one pixel left) — and emits the same integer statistics as
    the BMP gate. The oracle recomputes them analytically from the
    pixel formula, so a skipped unfilter, a dropped second IDAT, or a
    mis-walked chunk all break the hash. DEFLATE comes from
    python-stdlib zlib: this is a genuinely compressed format decoded
    with ZERO codec libraries (KNOWN_LIMITS §3's remaining gap is now
    only the formats whose codecs aren't in the stdlib: JPEG/MP3/H.264).

    100 TB notes: two map-only Arrow-batched passes, no shuffle; a
    real corpus swaps the encode stage for a parquet binary read."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _png_bytes,
        _decode_png,
        "doc_id long, width long, height long, n_pixels long, luma_milli long",
    )


ORACLE_MULTIMODAL_DECODE_PNG = """
WITH d AS (
  SELECT doc_id, 6 + doc_id % 11 AS w, 4 + doc_id % 8 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d
)
SELECT doc_id, w AS width, h AS height, COUNT(*) AS n_pixels,
       CAST(SUM(
         299 * ((doc_id * 5 + (i % w) * 19 + (i // w) * 37) % 256)
       + 587 * ((doc_id * 13 + (i % w) * 7 + (i // w) * 11) % 256)
       + 114 * ((doc_id * 23 + (i % w) * 3 + (i // w) * 29) % 256)
       ) AS BIGINT) AS luma_milli
FROM px
GROUP BY doc_id, w, h
"""

EXT_QUERIES["multimodal_decode_png"] = q_multimodal_decode_png
EXT_ORACLES["multimodal_decode_png"] = ORACLE_MULTIMODAL_DECODE_PNG


# ---------------------------------------------------------------------------
# JPEG baseline (SOF0) decode — entropy-coded DCT with stdlib+numpy
# only: marker walk, canonical Huffman from DHT, byte-unstuffing, DC
# differential + sign extension, general AC run-length, dequantize,
# zigzag, float IDCT, level shift (r9 verdict item 9 — the largest
# codec-tail item in KNOWN_LIMITS §3)
# ---------------------------------------------------------------------------

# Natural position of each zigzag index (ITU T.81 Figure A.6)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]
# Standard luminance DC table (T.81 Annex K.3.1): categories 0..11
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
# Minimal-but-legal AC table: the single 1-bit code "0" = EOB (the
# decoder builds its tables generically from DHT, so a full Annex K
# table decodes through the same path)
_JPEG_AC_BITS = [1] + [0] * 15
_JPEG_AC_VALS = [0x00]
# DC quant step 8 makes the oracle EXACT: a DC-only block's IDCT is
# F00/8 = (k·8)/8 = k at every sample — integer before rounding, so
# decoded pixel = k + 128 with no float ambiguity for SQL to chase
_JPEG_QDC = 8
_JPEG_QAC = 16


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length), canonical JPEG Huffman assignment."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing: 0xFF in entropy data -> FF 00
                self.buf.append(0x00)
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill to byte boundary
        return bytes(self.buf)


def _jpeg_dims(doc_id: int) -> tuple[int, int]:
    return 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)


def _jpeg_dc(doc_id: int, bx: int, by: int) -> int:
    return (doc_id * 7 + bx * 13 + by * 31) % 256 - 128


def _jpeg_encode(
    w: int,
    h: int,
    blocks: list[list[int]],
    ac_bits: list[int] | None = None,
    ac_vals: list[int] | None = None,
) -> bytes:
    """Real baseline JPEG byte stream: SOI, DQT (zigzag), SOF0
    (8-bit, single component — grayscale baseline, no subsampling),
    DHT ×2, SOS, Huffman-entropy-coded scan with byte stuffing, EOI.
    ``blocks`` holds QUANTIZED coefficients per 8×8 block in raster
    order, each a 64-list in NATURAL order (the fixture generator
    passes DC-only blocks; tests pass AC runs through the same
    encoder)."""
    ac_bits = ac_bits if ac_bits is not None else _JPEG_AC_BITS
    ac_vals = ac_vals if ac_vals is not None else _JPEG_AC_VALS
    qtab = [0] * 64
    qtab[0] = _JPEG_QDC
    for z in range(1, 64):
        qtab[z] = _JPEG_QAC
    seg = bytearray(b"\xff\xd8")  # SOI

    def marker(m: int, payload: bytes) -> None:
        seg.extend(struct.pack(">BBH", 0xFF, m, len(payload) + 2))
        seg.extend(payload)

    marker(0xDB, bytes([0x00]) + bytes(qtab))  # DQT, Pq=0 Tq=0, zigzag
    marker(  # SOF0: precision 8, 1 component id=1, sampling 1x1, Tq 0
        0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    marker(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    marker(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    marker(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS: comp 1, Td=Ta=0
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(ac_bits, ac_vals)
    bw = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        diff = blk[0] - pred
        pred = blk[0]
        s = abs(diff).bit_length()
        code, ln = dc_codes[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        # AC: run-length encode the zigzag tail (fixtures are all-zero
        # -> one EOB; tests drive (run, size) symbols through here)
        zz = [blk[_JPEG_ZIGZAG[z]] for z in range(1, 64)]
        last_nz = max((i for i, v in enumerate(zz) if v), default=-1)
        run = 0
        for i in range(last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                if run == 16:
                    code, ln = ac_codes[0xF0]  # ZRL
                    bw.put(code, ln)
                    run = 0
                continue
            s = abs(v).bit_length()
            code, ln = ac_codes[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 62:
            code, ln = ac_codes[0x00]  # EOB
            bw.put(code, ln)
    seg.extend(bw.finish())
    seg.extend(b"\xff\xd9")  # EOI
    return bytes(seg)


def _jpeg_bytes(doc_id: int) -> bytes:
    """Per-document fixture: DC-only blocks (AC all zero), DC value
    k(doc, bx, by) per the analytic formula — the decode is then
    blockwise-constant k+128, which DuckDB recomputes exactly."""
    w, h = _jpeg_dims(doc_id)
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = [0] * 64
            blk[0] = _jpeg_dc(doc_id, bx, by)
            blocks.append(blk)
    return _jpeg_encode(w, h, blocks)


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_idct_matrix() -> np.ndarray:
    a = np.zeros((8, 8))
    for u in range(8):
        c = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = (c / 2) * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


def _jpeg_decode(buf: bytes, want: str = "pixels"):
    """Baseline-sequential JPEG decoder (single-component SOF0, no
    restart markers — the fixture scope; chroma subsampling is the
    remaining KNOWN_LIMITS §3 item). Returns (w, h, pixels uint8
    ndarray) or, with want='coefficients', (w, h, list of quantized
    64-coefficient blocks in natural order) so tests can pin the
    Huffman/run-length layer independent of the IDCT."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    qtabs: dict[int, list[int]] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    w = h = None
    scan_start = None
    while i < len(buf):
        if buf[i] != 0xFF:
            raise ValueError(f"marker sync lost at {i}")
        m = buf[i + 1]
        if m == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", buf, i + 2)
        seg = buf[i + 4 : i + 2 + ln]
        if m == 0xDB:  # DQT: one or more tables, zigzag order
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = list(seg[p + 1 : p + 65])
                nat = [0] * 64
                for z in range(64):
                    nat[_JPEG_ZIGZAG[z]] = zz[z]
                qtabs[tq] = nat
                p += 65
        elif m == 0xC0:  # SOF0
            prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8 or ncomp != 1:
                raise ValueError("only 8-bit single-component SOF0")
            if seg[7] != 0x11:  # seg[6] is the component id
                raise ValueError("subsampling unsupported")
            comp_tq = seg[8]
        elif m == 0xC4:  # DHT: one or more tables
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nvals])
                # canonical decode map: (length, code) -> symbol
                dec, code, k = {}, 0, 0
                for L in range(1, 17):
                    for _ in range(bits[L - 1]):
                        dec[(L, code)] = vals[k]
                        k += 1
                        code += 1
                    code <<= 1
                hufftabs[(tc, th)] = dec
                p += 17 + nvals
        elif m == 0xDA:  # SOS
            td, ta = seg[2] >> 4, seg[2] & 15
            scan_start = i + 2 + ln
            break
        i += 2 + ln
    if scan_start is None or w is None:
        raise ValueError("missing SOS/SOF0")
    # entropy data: un-stuff FF00 -> FF, stop at the next real marker
    raw = bytearray()
    p = scan_start
    while p < len(buf):
        b = buf[p]
        if b == 0xFF:
            nxt = buf[p + 1]
            if nxt == 0x00:
                raw.append(0xFF)
                p += 2
                continue
            break  # EOI (or any marker) ends the scan
        raw.append(b)
        p += 1

    def huffread(br: _JpegBitReader, dec: dict) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | br.bit()
            length += 1
            if (length, code) in dec:
                return dec[(length, code)]
        raise ValueError("invalid Huffman code")

    def extend(v: int, s: int) -> int:
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    br = _JpegBitReader(bytes(raw))
    dc_dec, ac_dec = hufftabs[(0, td)], hufftabs[(1, ta)]
    nbx, nby = w // 8, h // 8
    pred = 0
    blocks: list[list[int]] = []
    for _ in range(nbx * nby):
        blk = [0] * 64
        s = huffread(br, dc_dec)
        diff = extend(br.bits(s), s) if s else 0
        pred += diff
        blk[0] = pred
        z = 1
        while z < 64:
            sym = huffread(br, ac_dec)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL: 16 zeros
                z += 16
                continue
            run, size = sym >> 4, sym & 15
            z += run
            if z > 63:
                raise ValueError("AC run past block end")
            blk[_JPEG_ZIGZAG[z]] = extend(br.bits(size), size)
            z += 1
        blocks.append(blk)
    if want == "coefficients":
        return w, h, blocks
    q = np.array(qtabs[comp_tq]).reshape(8, 8)
    a = _jpeg_idct_matrix()
    pixels = np.zeros((h, w), dtype=np.uint8)
    for idx, blk in enumerate(blocks):
        by, bx = divmod(idx, nbx)
        f = np.array(blk, dtype=np.float64).reshape(8, 8) * q
        s = a.T @ f @ a  # 2-D type-III DCT (the IDCT)
        pixels[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
            np.round(s) + 128, 0, 255
        ).astype(np.uint8)
    return w, h, pixels


def _decode_jpeg(doc_id, buf: bytes):
    w, h, pix = _jpeg_decode(buf)
    # per-block reconstructed DC (top-left sample − 128): its energy
    # pins every block independently of the sum
    ks = pix[::8, ::8].astype(np.int64) - 128
    return [(doc_id, w, h, w * h, int(pix.astype(np.int64).sum()), int((ks * ks).sum()))]


def q_multimodal_decode_jpeg(spark, sf_dir):
    """JPEG BASELINE DECODE over a binary column: encodes one real
    SOF0 grayscale JPEG per document (canonical-Huffman entropy scan,
    standard DC table, zigzag DQT), then an
    independent Arrow-batched stage decodes the ACTUAL BYTES — marker
    walk, DHT table reconstruction, FF00 un-stuffing, DC differential
    with sign extension, the general (run,size) AC loop, dequantize,
    de-zigzag, float 8×8 IDCT, level shift — and emits integer image
    statistics. The oracle recomputes them from the DC formula: the
    DC quant step of 8 makes a DC-only block's IDCT land on integers
    (F00/8 = k), so the hash is exact, not tolerance-based. A wrong sign
    extension, a mis-built Huffman table or a transposed IDCT all
    break it; the byte-STUFFING layer never byte-aligns in these
    fixtures, so it is pinned by a crafted alignment roundtrip in
    tests/test_wave10.py instead. Scope (KNOWN_LIMITS §3): baseline
    sequential single-component; chroma subsampling recombination and
    progressive scans remain out.

    100 TB notes: two map-only Arrow-batched passes, no shuffle; the
    per-row cost is the decoder itself — on a real corpus the encode
    stage is a parquet binary read and this operator is
    embarrassingly parallel."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _jpeg_bytes,
        _decode_jpeg,
        "doc_id long, width long, height long, n_pixels long, "
        "pixel_sum long, dc_energy long",
    )


ORACLE_MULTIMODAL_DECODE_JPEG = """
WITH d AS (
  SELECT doc_id,
         8 * (1 + doc_id % 3) AS w,
         8 * (1 + doc_id % 2) AS h
  FROM documents
),
blk AS (
  SELECT doc_id, w, h, unnest(range(0, (w // 8) * (h // 8))) AS b FROM d
),
k AS (
  SELECT doc_id, w, h,
         (doc_id * 7 + (b % (w // 8)) * 13 + (b // (w // 8)) * 31) % 256
           - 128 AS kv
  FROM blk
)
SELECT doc_id, w AS width, h AS height, w * h AS n_pixels,
       CAST(SUM(64 * (kv + 128)) AS BIGINT) AS pixel_sum,
       CAST(SUM(kv * kv) AS BIGINT) AS dc_energy
FROM k GROUP BY doc_id, w, h
"""

EXT_QUERIES["multimodal_decode_jpeg"] = q_multimodal_decode_jpeg
EXT_ORACLES["multimodal_decode_jpeg"] = ORACLE_MULTIMODAL_DECODE_JPEG


# ---------------------------------------------------------------------------
# gzip JSONL ingestion — the compressed crawl-feed path (and the
# non-splittable-codec parallelism lesson that goes with it)
# ---------------------------------------------------------------------------

GZIP_JSONL_SHARDS = 4


def q_jsonl_gzip_ingest(spark, sf_dir):
    """GZIP-COMPRESSED JSONL ingestion: the corpus is sharded into {n}
    ``.json.gz`` files (python-stdlib gzip — the exact wire format
    web-scale text feeds arrive in) and read back through Spark's
    codec-by-extension path with an explicit schema; exact char-sum and
    per-shard counts prove byte fidelity through compression.

    100 TB notes — the lesson IS the format: gzip is NOT SPLITTABLE,
    so one .gz file = one task regardless of size; parallelism comes
    from FILE COUNT (this fixture shards deliberately; a real feed
    arrives as many ~100 MB-1 GB members, or as bgzf/zstd-seekable
    when producers cooperate). Explicit schema as always — inference
    would decompress the whole corpus twice. Shard assignment is the
    portable hash mod {n}, so the per-shard rollup is
    engine-recomputable. The driver-side fixture WRITE (toPandas +
    stdlib gzip) exists only because Spark is the system under test on
    the READ side — in production the .gz members arrive from the
    crawler; only the read path below is the operator."""
    import gzip

    from ..sources.fsutil import scratch_dir

    root = scratch_dir("jsonl_gzip_ingest")
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "text",
            "lang",
            F.pmod(_h(F.col("doc_id").cast("string")), F.lit(GZIP_JSONL_SHARDS))
            .cast("int")
            .alias("shard"),
        )
        .toPandas()
        .sort_values("doc_id")
    )
    for s in range(GZIP_JSONL_SHARDS):
        part = d[d["shard"] == s]
        with gzip.open(
            os.path.join(root, f"shard-{s}.json.gz"), "wt", encoding="utf-8"
        ) as fh:
            for _, row in part.iterrows():
                fh.write(
                    '{"doc_id": %d, "text": %s, "lang": %s, "shard": %d}\n'
                    % (
                        row["doc_id"],
                        _json_str(row["text"]),
                        _json_str(row["lang"]),
                        row["shard"],
                    )
                )
    back = spark.read.schema(
        "doc_id long, text string, lang string, shard int"
    ).json(root)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _json_str(s: str) -> str:
    import json as _json

    return _json.dumps(s, ensure_ascii=True)


ORACLE_JSONL_GZIP_INGEST = f"""
SELECT CAST({H_SQL.format(x="CAST(doc_id AS VARCHAR)")} % {GZIP_JSONL_SHARDS}
            AS INTEGER) AS shard,
       count(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
"""

EXT_QUERIES["jsonl_gzip_ingest"] = q_jsonl_gzip_ingest
EXT_ORACLES["jsonl_gzip_ingest"] = ORACLE_JSONL_GZIP_INGEST


# ---------------------------------------------------------------------------
# Bloom-filter membership sketch — the SET-MEMBERSHIP member of the
# mergeable sketch family (HLL = distinct, Misra-Gries = top-k,
# Count-Min = frequency, Bloom = membership with one-sided error)
# ---------------------------------------------------------------------------

BLOOM_M = 65536          # bits
BLOOM_K = 3              # hash functions
BLOOM_HV_PRICE = 480000  # build-set predicate: "high-value buyer"


def q_bloom_membership(spark, sf_dir):
    """BLOOM-FILTER MEMBERSHIP sketch: build an m={m}-bit / k={k}-hash
    Bloom filter over the HIGH-VALUE-BUYER key set (distinct customers
    with an order ≥ {t}) and probe EVERY customer against it, reporting
    claimed-vs-true membership — the one-sided-error contract (claimed
    ⊇ truth: false positives only, NEVER false negatives) is the gate,
    and a dedicated test pins it row-by-row.

    This is the sketch behind the `bloom_prune_join` scan-prune gate,
    promoted to a first-class queryable operator: the bit set is a
    DISTINCT over hash positions, so it is idempotent-mergeable across
    partitions/streams/days (OR of bitmaps == union of position sets)
    — the fixed-size mergeable-state shape of the whole family
    (operators/sketches.py).

    100 TB: the build is one distinct-aggregate over the key predicate
    (map-side combinable, output ≤ m rows, m a literal constant); the
    probe explodes k={k} positions per candidate and equi-joins the
    position set pinned `shuffle_hash` — positions are hash-mod
    derived, so their ≤ m cardinality is not provable from plan text
    and must never reach a broadcast via a size estimate (the
    count_min_sketch / contrastive_negatives verdict). Truth rides the
    same pass as a marked left join on the build keys.

    Ref: Bloom (1970); same portable md5-prefix hash as the LSH/CM
    family (H_SQL)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    keys = (
        o.filter(F.col("o_totalprice") >= BLOOM_HV_PRICE)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    pos_expr = (
        f"transform(sequence(0, {BLOOM_K - 1}), i -> "
        f"CAST(conv(substring(md5(concat('bloom', CAST(i AS STRING), ':', "
        f"CAST(key AS STRING))), 1, 8), 16, 10) AS BIGINT) % {BLOOM_M})"
    )
    bits = (
        keys.select(F.explode(F.expr(pos_expr)).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = c.select(F.col("c_custkey").alias("key")).select(
        "key", F.posexplode(F.expr(pos_expr)).alias("i", "pos")
    )
    matched = (
        probe.join(bits.hint("shuffle_hash"), "pos", "left")
        .groupBy("key")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
    )
    truth = keys.withColumn("is_member", F.lit(True))
    return (
        matched.join(truth.hint("shuffle_hash"), "key", "left")
        .select(
            F.col("key").alias("c_custkey"),
            (F.col("n_hits") == BLOOM_K).alias("claimed_present"),
            F.coalesce(F.col("is_member"), F.lit(False)).alias("truly_present"),
            (
                (F.col("n_hits") == BLOOM_K)
                & ~F.coalesce(F.col("is_member"), F.lit(False))
            ).alias("false_positive"),
        )
    )


q_bloom_membership.__doc__ = q_bloom_membership.__doc__.format(
    m=BLOOM_M, k=BLOOM_K, t=BLOOM_HV_PRICE
)

_BLOOM_POS_DUCK = (
    f"CAST('0x' || substr(md5('bloom' || CAST(i AS VARCHAR) || ':' || "
    f"CAST(key AS VARCHAR)), 1, 8) AS BIGINT) % {BLOOM_M}"
)

ORACLE_BLOOM_MEMBERSHIP = f"""
WITH keys AS (
  SELECT DISTINCT o_custkey AS key FROM orders
  WHERE o_totalprice >= {BLOOM_HV_PRICE}
),
bits AS (
  SELECT DISTINCT {_BLOOM_POS_DUCK} AS pos
  FROM keys, range({BLOOM_K}) r(i)
),
probe AS (
  SELECT c_custkey AS key, i, {_BLOOM_POS_DUCK.replace("key", "c_custkey")} AS pos
  FROM customer, range({BLOOM_K}) r(i)
),
matched AS (
  SELECT key, count(b.pos) AS n_hits
  FROM probe p LEFT JOIN bits b USING (pos)
  GROUP BY key
)
SELECT m.key AS c_custkey,
       m.n_hits = {BLOOM_K} AS claimed_present,
       k.key IS NOT NULL AS truly_present,
       (m.n_hits = {BLOOM_K}) AND k.key IS NULL AS false_positive
FROM matched m LEFT JOIN keys k ON m.key = k.key
"""

EXT_QUERIES["bloom_membership"] = q_bloom_membership
EXT_ORACLES["bloom_membership"] = ORACLE_BLOOM_MEMBERSHIP


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic numeric-DQ / anomaly screen
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed as literals so
# NEITHER engine evaluates a transcendental at query time (libm log10
# is not bit-pinned cross-engine; these constants are).
BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def q_benford_digit_audit(spark, sf_dir):
    """BENFORD FIRST-DIGIT AUDIT over order totals: observed
    leading-digit distribution (exact floor-ppm shares) vs the Benford
    expectation — the classic screen for fabricated/synthetic/clipped
    numeric columns in a DQ pipeline (synthetic uniform-ish TPC-H
    prices FAIL Benford loudly, which is exactly what the audit is for:
    the deviation column IS the signal, not an error).

    Determinism: the leading digit comes from the DECIMAL STRING of
    floor(value) — floor of the same double is identical cross-engine
    and bigint-to-string formatting is exact, where a log10-based digit
    extraction would ride libm. Expected shares are precomputed
    literals (see BENFORD_PPM); observed shares are integer floor-ppm.

    100 TB: one map-side-combinable 9-group aggregate over the scan;
    the 9-row literal expectation dim drives the final join, with the
    corpus-derived counts side pinned shuffle_hash (grouped on a
    DERIVED column, so its ≤9-row bound is not plan-provable — the
    event_transition_matrix verdict); total-order count rides a scalar
    subquery."""
    o = _t(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counts.agg(F.sum("n_orders")).scalar()
    expected = spark.createDataFrame(
        sorted(BENFORD_PPM.items()), "digit int, benford_ppm bigint"
    )
    return (
        # expected is the 9-row literal dim and drives the join; counts
        # is a corpus-derived aggregate grouped on a DERIVED column
        # (digit), so its ≤9-row bound is not provable from plan text —
        # shuffle_hash, never an estimate-fed broadcast (sweep rule)
        expected.join(counts.hint("shuffle_hash"), "digit", "left")
        .withColumn("__total", total)
        .withColumn("n_orders", F.coalesce(F.col("n_orders"), F.lit(0)))
        .withColumn(
            "observed_ppm",
            F.expr("CAST(n_orders AS BIGINT) * 1000000 div __total"),
        )
        .select(
            "digit",
            "n_orders",
            "observed_ppm",
            "benford_ppm",
            (F.col("observed_ppm") - F.col("benford_ppm")).alias(
                "deviation_ppm"
            ),
        )
    )


_BENFORD_VALUES = ", ".join(
    f"({d}, {p})" for d, p in sorted(BENFORD_PPM.items())
)

ORACLE_BENFORD_DIGIT_AUDIT = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INTEGER) AS digit
  FROM orders
),
counts AS (SELECT digit, count(*) AS n_orders FROM digits GROUP BY 1),
tot AS (SELECT SUM(n_orders) AS n FROM counts),
expected(digit, benford_ppm) AS (VALUES {_BENFORD_VALUES})
SELECT e.digit,
       COALESCE(c.n_orders, 0) AS n_orders,
       CAST(COALESCE(c.n_orders, 0) * 1000000 // tot.n AS BIGINT)
         AS observed_ppm,
       CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(COALESCE(c.n_orders, 0) * 1000000 // tot.n AS BIGINT)
         - CAST(e.benford_ppm AS BIGINT) AS deviation_ppm
FROM expected e LEFT JOIN counts c ON e.digit = c.digit
CROSS JOIN tot
"""

EXT_QUERIES["benford_digit_audit"] = q_benford_digit_audit
EXT_ORACLES["benford_digit_audit"] = ORACLE_BENFORD_DIGIT_AUDIT


# ---------------------------------------------------------------------------
# DBSCAN over the IVF-blocked epsilon graph — the DENSITY member of the
# clustering family (CC = transitive near-dup, LPA = modular communities,
# k-core = fringe strip, k-means = IVF lists, DBSCAN = density + noise)
# ---------------------------------------------------------------------------

DBSCAN_EPS = 0.25   # cosine epsilon-neighborhood threshold (6 dp rounded)
DBSCAN_MINPTS = 4   # neighbors (excluding self) required for a core point

DBSCAN_LABELS_ROOT = os.path.join(_REPO_ROOT, "artifacts", "dbscan_labels")
_DBSCAN_LABELS_CACHE: dict[str, tuple] = {}


def _emb_fingerprint(spark, sf_dir: str):
    """(row count, vec_id checksum, CONTENT checksum) — corpus
    identity for embedding-derived label artifacts. The content term
    (r9 ADVICE, medium): (count, sum(vec_id)) alone cannot see a
    regenerated corpus that reuses the same ids with different vector
    VALUES, and the bench path runs no oracle check — stale committed
    labels would serve silently. The order-independent sum of a
    per-row hash over the canonical (vec_id, embedding) rendering is
    the same identity discipline the mirror uses (content-coupled),
    at one extra column scan of the (small) embeddings table."""
    r = (
        _t(spark, sf_dir, "embeddings")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vec_id").alias("s"),
            F.sum(
                _h(F.to_json(F.struct("vec_id", "embedding")))
            ).alias("c"),
        )
        .first()
    )
    return int(r["n"] or 0), int(r["s"] or 0), int(r["c"] or 0)


def _dbscan_labels(spark, sf_dir: str) -> DataFrame:
    """LOAD-first DBSCAN label table (r8 verdict item 5: the epsilon
    graph + CC re-ran on every call — 7.5 s at sf0.1 — while the LSH CC
    labels loaded warm). Same artifact discipline as _lsh_cc_labels
    (``_fingerprinted_artifact``): corpus-fingerprint freshness
    (embeddings, not documents), with the PARAMETERS (eps, minpts)
    pinned into the meta row so a tuning change can never serve the
    previous tuning's labels. The gate stays hash-checked against the
    live DuckDB oracle, so a stale-serve bug surfaces as a gate
    mismatch, not silence."""
    return _fingerprinted_artifact(
        spark, os.path.join(DBSCAN_LABELS_ROOT, _artifact_subdir(sf_dir)),
        _DBSCAN_LABELS_CACHE, sf_dir, "labels",
        lambda: dict(
            zip("nsc", _emb_fingerprint(spark, sf_dir)),
            eps_ppm=int(round(DBSCAN_EPS * 1_000_000)),
            minpts=DBSCAN_MINPTS,
        ),
        lambda: _dbscan_compute(spark, sf_dir),
    )


def q_dbscan_clusters_blocked(spark, sf_dir):
    """DBSCAN gate — serves the fingerprint-fresh label artifact
    (see _dbscan_labels; the computation is _dbscan_compute, whose
    docstring carries the algorithm and 100 TB notes)."""
    return _dbscan_labels(spark, sf_dir)


def _dbscan_compute(spark, sf_dir):
    """DBSCAN over embeddings with IVF-BLOCKED neighborhood generation:
    epsilon-neighbor pairs come from the materialized coarse-list
    assignment (exact cosine only WITHIN a block — the
    dedup_embedding_blocked candidate contract, so the epsilon graph is
    the BLOCKED one and recall follows the IVF block structure; raise
    via the soft/multiprobe assignment if the consumer needs more),
    then the classic three-way split: CORE points (≥ {minpts} in-block
    epsilon neighbors), BORDER points (non-core with a core neighbor —
    assigned the MIN core-cluster label for determinism where textbook
    DBSCAN says "arbitrary"), NOISE (everything else, cluster -1).
    Clusters are connected components over the CORE-CORE subgraph
    (pointer-jumping CC, O(log diameter) rounds).

    Why this member matters: CC merges through every chance edge
    (one spurious pair glues two clusters), LPA needs a round budget;
    DBSCAN's core/border split keeps low-degree bridge points from
    chaining clusters together and names outliers explicitly — the
    "dense semantic groups + noise floor" view a curation pipeline
    wants from an embedding space.

    100 TB: candidate pairs are narrow (two ids) and linear via the
    block-width policy (_ivf_k); degree count is map-side combinable;
    the CC iteration runs on the core-core subgraph only (≤ the pair
    count); every corpus-derived frame enters its join pinned
    shuffle_hash or as a left-semi reduction — nothing reaches a
    broadcast by size estimate. The blocked pair relation feeds THREE
    consumers (degree, core edges, border attach) so it materializes
    once (eager localCheckpoint — the market_basket lesson)."""
    from ..operators.graph import connected_components

    asg = _ivf_assignments(spark, sf_dir)
    cand = (
        asg.select(F.col("vec_id").alias("ia"), F.col("cid").alias("block"))
        .join(
            asg.select(F.col("vec_id").alias("ib"), F.col("cid").alias("bb")),
            (F.col("block") == F.col("bb")) & (F.col("ia") < F.col("ib")),
        )
        .select("ia", "ib")
    )
    va = _vectors(spark, sf_dir, "ia", "va", "na_").drop("label")
    vb = _vectors(spark, sf_dir, "ib", "vb", "nb_").drop("label")
    cos = _cos(F.col("va"), F.col("vb"), F.col("na_"), F.col("nb_"))
    from pyspark.storagelevel import StorageLevel

    pairs = (
        cand.join(va.hint("shuffle_hash"), "ia")
        .join(vb.hint("shuffle_hash"), "ib")
        .select("ia", "ib", cos.alias("s"))
        .filter(F.col("s") >= DBSCAN_EPS)
        .select("ia", "ib")
        # DISK_ONLY, not localCheckpoint: the pair relation is
        # corpus-scaled, and checkpoint blocks are memory-first —
        # at the 100x probe they compete with the producing stage's
        # own hash aggregates in unified memory (PLANS.md addendum 7:
        # market_basket died exactly this way). 2 bigints/row, so the
        # three consumer re-reads are sequential-scan cheap.
        .persist(StorageLevel.DISK_ONLY)
    )
    pairs.count()  # materialize before fan-out
    sym = pairs.union(pairs.select(F.col("ib"), F.col("ia")))
    deg = sym.groupBy("ia").agg(F.count(F.lit(1)).alias("eps_degree"))
    core = deg.filter(F.col("eps_degree") >= DBSCAN_MINPTS).select(
        F.col("ia").alias("node")
    )
    core_edges = sym.join(
        core.hint("shuffle_hash"),
        sym["ia"] == core["node"],
        "left_semi",
    ).join(
        core.hint("shuffle_hash").withColumnRenamed("node", "__bn"),
        F.col("ib") == F.col("__bn"),
        "left_semi",
    )
    # CC only labels nodes that APPEAR in edges; a core point whose
    # epsilon neighbors are all non-core is an edge-less singleton
    # cluster (its own component, label = own id) — left-join +
    # coalesce restores it (caught by the sf0.01 oracle: 2/500 cores)
    cc = connected_components(core_edges, "ia", "ib")
    labels = core.join(cc.hint("shuffle_hash"), "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )
    border = (
        sym.join(
            core.hint("shuffle_hash"), sym["ia"] == core["node"], "left_anti"
        )
        .join(
            labels.hint("shuffle_hash").withColumnRenamed("node", "__ln"),
            F.col("ib") == F.col("__ln"),
        )
        .groupBy("ia")
        .agg(F.min("label").alias("b_label"))
    )
    em = _t(spark, sf_dir, "embeddings").select("vec_id")
    return (
        em.join(
            labels.hint("shuffle_hash").withColumnRenamed("node", "__cn"),
            F.col("vec_id") == F.col("__cn"),
            "left",
        )
        .join(
            border.hint("shuffle_hash").withColumnRenamed("ia", "__bi"),
            F.col("vec_id") == F.col("__bi"),
            "left",
        )
        .join(
            deg.hint("shuffle_hash").withColumnRenamed("ia", "__di"),
            F.col("vec_id") == F.col("__di"),
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("label").isNotNull(), F.lit("core"))
            .when(F.col("b_label").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("label"), F.col("b_label"), F.lit(-1))
            .cast("long")
            .alias("cluster_id"),
            F.coalesce(F.col("eps_degree"), F.lit(0))
            .cast("long")
            .alias("eps_degree"),
        )
    )


_dbscan_compute.__doc__ = _dbscan_compute.__doc__.format(
    minpts=DBSCAN_MINPTS
)

ORACLE_DBSCAN_CLUSTERS_BLOCKED = f"""
WITH asg AS (SELECT * FROM read_parquet('{IVF_ORACLE_DIR}/assignments/*.parquet')),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM e a
  JOIN asg aa ON aa.vec_id = a.vec_id
  JOIN asg ba ON ba.cid = aa.cid
  JOIN e b ON b.vec_id = ba.vec_id AND b.vec_id <> a.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {DBSCAN_EPS}
),
deg AS MATERIALIZED (SELECT ia, count(*) AS deg FROM p GROUP BY 1),
core AS MATERIALIZED (SELECT ia AS node FROM deg WHERE deg >= {DBSCAN_MINPTS}),
ce AS MATERIALIZED (
  SELECT p.ia AS a, p.ib AS b FROM p
  JOIN core c1 ON c1.node = p.ia
  JOIN core c2 ON c2.node = p.ib
),
tc AS (
  WITH RECURSIVE walk(src, dst) AS (
    SELECT a, b FROM ce
    UNION
    SELECT walk.src, ce.b FROM walk JOIN ce ON walk.dst = ce.a
  )
  SELECT src, dst FROM walk
),
labels AS MATERIALIZED (
  SELECT c.node, least(c.node, min(tc.dst)) AS label
  FROM core c LEFT JOIN tc ON tc.src = c.node
  GROUP BY c.node
),
border AS (
  SELECT p.ia AS node, min(l.label) AS label
  FROM p JOIN labels l ON l.node = p.ib
  WHERE p.ia NOT IN (SELECT node FROM core)
  GROUP BY 1
)
SELECT em.vec_id,
       CASE WHEN cl.label IS NOT NULL THEN 'core'
            WHEN bo.label IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(cl.label, bo.label, -1) AS cluster_id,
       COALESCE(d.deg, 0) AS eps_degree
FROM embeddings em
LEFT JOIN labels cl ON cl.node = em.vec_id
LEFT JOIN border bo ON bo.node = em.vec_id
LEFT JOIN deg d ON d.ia = em.vec_id
"""

EXT_QUERIES["dbscan_clusters_blocked"] = q_dbscan_clusters_blocked
EXT_ORACLES["dbscan_clusters_blocked"] = ORACLE_DBSCAN_CLUSTERS_BLOCKED


# ---------------------------------------------------------------------------
# MMR diverse rerank — the diversity member of the retrieval family
# (BM25 = lexical, dense rerank = semantic, RRF = fusion, NDCG = eval,
# MMR = result diversification)
# ---------------------------------------------------------------------------

MMR_K = 10          # results to select


def q_mmr_diverse_rerank(spark, sf_dir):
    """MAXIMAL MARGINAL RELEVANCE rerank of the BM25 top-{n}: greedily
    select {k} results maximizing λ·rel − (1−λ)·max-sim-to-selected —
    the standard diversification pass that stops a retrieval stack from
    returning {k} near-duplicates of the same hit (Carbonell &
    Goldstein 1998), and the last member the retrieval family was
    missing (lexical → dense → fusion → eval → DIVERSIFY).

    Split of labor, by design: everything CORPUS-SCALED runs
    distributed (the BM25 leg's pruned token join + TakeOrdered; the
    candidate-pair cosines as one equi-join pass against embeddings —
    a literal ≤{n}·({n}−1)/2-row pair frame drives it, so no cartesian
    and no corpus broadcast), while the inherently SEQUENTIAL greedy
    runs driver-side over the collected ≤{n}-row candidate table — the
    k-means/GD pattern: bounded O(k²) metadata at the driver, never
    row-proportional. Each MMR step is data-dependent on the previous
    selection, so a distributed formulation would be {k} chained jobs
    over {n} rows — strictly worse.

    Determinism: relevance = bm25/max(bm25) and every MMR score
    0.5·rel − 0.5·maxsim are IEEE ops on doubles that BOTH engines
    derive bit-identically (bm25 and cosines are the proven 6 dp gate
    values; candidates lacking an embedding similarity-default to 0.0
    on BOTH sides); ties break doc_id-ascending. The oracle re-derives
    the whole greedy trajectory as {k} unrolled argmax CTEs — the BPE
    discipline."""
    cands = sorted(
        (r["doc_id"], r["bm25"]) for r in q_bm25_search(spark, sf_dir).collect()
    )
    ids = [c[0] for c in cands]
    max_bm = max(c[1] for c in cands)
    rel = {d: bm / max_bm for d, bm in cands}
    pair_rows = [(a, b) for a in ids for b in ids if a < b]
    pairs_lit = spark.createDataFrame(pair_rows, "ia long, ib long")
    va = _vectors(spark, sf_dir, "ia", "va", "na_").drop("label")
    vb = _vectors(spark, sf_dir, "ib", "vb", "nb_").drop("label")
    cos = _cos(F.col("va"), F.col("vb"), F.col("na_"), F.col("nb_"))
    sim_rows = (
        pairs_lit.join(va.withColumnRenamed("ia", "__a"),
                       F.col("ia") == F.col("__a"), "left")
        .join(vb.withColumnRenamed("ib", "__b"),
              F.col("ib") == F.col("__b"), "left")
        .select(
            "ia",
            "ib",
            F.when(
                F.col("va").isNotNull() & F.col("vb").isNotNull(), cos
            )
            .otherwise(F.lit(0.0))
            .alias("sim"),
        )
        .collect()
    )
    sim = {}
    for r in sim_rows:
        sim[(r["ia"], r["ib"])] = r["sim"]
        sim[(r["ib"], r["ia"])] = r["sim"]
    selected: list[tuple] = []
    chosen: set = set()
    for step in range(1, min(MMR_K, len(ids)) + 1):
        best = None
        for d in ids:
            if d in chosen:
                continue
            maxsim = max((sim[(d, s)] for s, *_ in selected), default=0.0)
            score = 0.5 * rel[d] - 0.5 * maxsim
            if best is None or score > best[1] or (
                score == best[1] and d < best[0]
            ):
                best = (d, score, maxsim)
        selected.append(best)
        chosen.add(best[0])
    out = [
        (i + 1, d, score, rel[d], maxsim)
        for i, (d, score, maxsim) in enumerate(selected)
    ]
    return spark.createDataFrame(
        out,
        "sel_rank int, doc_id long, mmr_score double, "
        "rel_norm double, max_sim_selected double",
    )


q_mmr_diverse_rerank.__doc__ = q_mmr_diverse_rerank.__doc__.format(
    n=BM25_TOP_N, k=MMR_K
)


def _mmr_oracle() -> str:
    parts = [
        f"cands AS MATERIALIZED (SELECT doc_id, bm25 FROM ({ORACLE_BM25_SEARCH}))",
        "rel AS MATERIALIZED (SELECT doc_id, "
        "bm25 / (SELECT max(bm25) FROM cands) AS rel FROM cands)",
        """pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib FROM cands a
  JOIN cands b ON a.doc_id < b.doc_id
),
sims0 AS MATERIALIZED (
  SELECT p.ia, p.ib,
         CASE WHEN ea.vec_id IS NOT NULL AND eb.vec_id IS NOT NULL
              THEN round(list_cosine_similarity(
                     CAST(ea.embedding AS DOUBLE[]),
                     CAST(eb.embedding AS DOUBLE[])), 6)
              ELSE 0.0 END AS sim
  FROM pairs p
  LEFT JOIN embeddings ea ON ea.vec_id = p.ia
  LEFT JOIN embeddings eb ON eb.vec_id = p.ib
),
ssym AS MATERIALIZED (
  SELECT ia, ib, sim FROM sims0
  UNION ALL SELECT ib, ia, sim FROM sims0
)""",
        # every step CTE is MATERIALIZED: sel{i} references selall{i-1},
        # so an inlined chain re-evaluates the whole prefix per step —
        # exponential (the recursive-CTE-chain lesson from the memory
        # conventions; the first un-materialized run did not finish)
        "sel1 AS MATERIALIZED (SELECT doc_id, "
        "0.5 * rel - 0.5 * 0.0 AS mmr_score, rel, "
        "0.0 AS maxsim, 1 AS sel_rank FROM rel "
        "ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, doc_id ASC LIMIT 1)",
        "selall1 AS MATERIALIZED (SELECT doc_id FROM sel1)",
    ]
    for i in range(2, MMR_K + 1):
        p = i - 1
        parts.append(
            f"""cand{i} AS MATERIALIZED (
  SELECT r.doc_id, r.rel,
         COALESCE((SELECT max(s.sim) FROM ssym s
                   JOIN selall{p} t ON s.ib = t.doc_id
                   WHERE s.ia = r.doc_id), 0.0) AS maxsim
  FROM rel r
  WHERE r.doc_id NOT IN (SELECT doc_id FROM selall{p})
)"""
        )
        parts.append(
            f"sel{i} AS MATERIALIZED (SELECT doc_id, "
            f"0.5 * rel - 0.5 * maxsim AS mmr_score, "
            f"rel, maxsim, {i} AS sel_rank FROM cand{i} "
            f"ORDER BY 0.5 * rel - 0.5 * maxsim DESC, doc_id ASC LIMIT 1)"
        )
        parts.append(
            f"selall{i} AS MATERIALIZED (SELECT doc_id FROM selall{p} "
            f"UNION ALL SELECT doc_id FROM sel{i})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT sel_rank, doc_id, mmr_score, rel AS rel_norm, "
        f"maxsim AS max_sim_selected FROM sel{i}"
        for i in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


EXT_QUERIES["mmr_diverse_rerank"] = q_mmr_diverse_rerank
EXT_ORACLES["mmr_diverse_rerank"] = _mmr_oracle()


# ---------------------------------------------------------------------------
# Per-column Shannon-entropy profile — the information-content DQ sheet
# ---------------------------------------------------------------------------

ENTROPY_COLUMNS = (
    ("documents", "lang"),
    ("documents", "source"),
    ("events", "event_type"),
)


def q_column_entropy_profile(spark, sf_dir):
    """PER-COLUMN SHANNON ENTROPY profile over the categorical columns
    a DQ dashboard watches (documents.lang / documents.source /
    events.event_type): H = −Σ p·log2 p in bits plus the normalized
    H / log2(|domain|) — the "did a feed collapse onto one value /
    did a new skew appear" signal that count-based profiles
    (table_profile) can't express in one number.

    Determinism: category counts are exact ints; each value's term
    −(c/N)·log2(c/N) runs on a correctly-rounded ratio of ints and is
    rounded to 10 dp per VALUE before the DECIMAL(38,10) accumulation
    (the doc_lm_score discipline), so summation order cannot move H;
    the normalizer divides by the 10 dp-rounded log2(n_distinct) in a
    pinned tree (single-value columns pin norm to 0.0).

    100 TB: one map-side-combinable aggregate per profiled column
    (all three are bounded-domain enums — |domain| output rows), then
    a 1-row rollup each; the union is 3 rows of metadata."""
    from .core import _events

    def _profile(df, table: str, column: str):
        counts = df.groupBy(F.col(column).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        n = counts.agg(F.sum("c")).scalar()
        ratio = F.col("c").cast("double") / F.col("__n").cast("double")
        term = F.round((-ratio) * F.log2(ratio), 10)
        agg = (
            counts.withColumn("__n", n)
            .select(
                F.col("__n"),
                term.cast("decimal(38,10)").alias("t"),
            )
            .agg(
                F.max("__n").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum("t").cast("double").alias("entropy_bits"),
            )
        )
        return agg.select(
            F.lit(table).alias("table_name"),
            F.lit(column).alias("column_name"),
            "n_rows",
            "n_distinct",
            "entropy_bits",
            F.when(F.col("n_distinct") > 1,
                   F.col("entropy_bits")
                   / F.round(F.log2(F.col("n_distinct").cast("double")), 10))
            .otherwise(F.lit(0.0))
            .alias("norm_entropy"),
        )

    d = _t(spark, sf_dir, "documents")
    ev = _events(spark, sf_dir)
    frames = [
        _profile(d, "documents", "lang"),
        _profile(d, "documents", "source"),
        _profile(ev, "events", "event_type"),
    ]
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionAll(f_)
    return out


def _entropy_profile_oracle_leg(table: str, column: str) -> str:
    return f"""
SELECT '{table}' AS table_name, '{column}' AS column_name,
       n_rows, n_distinct,
       entropy_bits,
       CASE WHEN n_distinct > 1
            THEN entropy_bits / round(log2(CAST(n_distinct AS DOUBLE)), 10)
            ELSE 0.0 END AS norm_entropy
FROM (
  SELECT max(n) AS n_rows, count(*) AS n_distinct,
         CAST(CAST(SUM(CAST(round((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
                      * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 10)
                      AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
           AS entropy_bits
  FROM (
    SELECT {column} AS v, count(*) AS c,
           (SELECT count(*) FROM {table}) AS n
    FROM {table} GROUP BY 1
  )
)"""


ORACLE_COLUMN_ENTROPY_PROFILE = "\nUNION ALL\n".join(
    _entropy_profile_oracle_leg(t, c) for t, c in ENTROPY_COLUMNS
)

EXT_QUERIES["column_entropy_profile"] = q_column_entropy_profile
EXT_ORACLES["column_entropy_profile"] = ORACLE_COLUMN_ENTROPY_PROFILE


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch — the QUANTILE member of the
# sketch family (HLL = distinct, MG = top-k, CM = frequency,
# Bloom = membership, fixed-bin CDF = quantiles)
# ---------------------------------------------------------------------------

QSKETCH_BINS = 256
QSKETCH_QS = (50, 90, 99)


def q_quantile_sketch_histogram(spark, sf_dir):
    """QUANTILE SKETCH: estimate p50/p90/p99 of order totals from a
    {b}-bin equi-width histogram — a fixed-size, cell-wise-SUM
    mergeable state (partitions/streams/days combine by addition, the
    Count-Min property applied to quantiles) — and AUDIT it against the
    exact nearest-rank quantile in the same result: the sketch's
    contract is exact ∈ [bin_lo, bin_hi], pinned as a column the gate
    hashes and a test asserts row-by-row.

    All-integer: values are exact cents (floor of price·100 on the
    2 dp-generated doubles), bin edges derive from min/max by bigint
    floor-division, ranks are ⌈q·n/100⌉ by ceil-division, and both
    CDF walks (per-bin for the sketch, per-distinct-value for the
    exact answer) run through distributed machinery.

    100 TB: the sketch side is one map-side-combinable {b}-key
    aggregate + an O({b}) bounded cumulative (the skyline pattern:
    single-partition work bounded by the literal bin count, never the
    data); the exact side reduces to per-DISTINCT-value counts and a
    global_prefix_sum two-pass scan. min/max/n ride scalar
    subqueries."""
    o = _t(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("v")
    )
    lo = vals.agg(F.min("v")).scalar()
    hi = vals.agg(F.max("v")).scalar()
    n = vals.agg(F.count(F.lit(1))).scalar()
    binned = vals.withColumn("__lo", lo).withColumn("__hi", hi).withColumn(
        "bin",
        F.expr(f"(v - __lo) * {QSKETCH_BINS} div (__hi - __lo + 1)"),
    )
    sketch = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    # O(BINS) cumulative: the bin domain is the literal 0..{b}-1, so a
    # global window over ≤{b} rows is bounded by construction (the
    # skyline precedent), never by the corpus
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    sk_cum = sketch.withColumn("cum", F.sum("c").over(wb))
    from ..operators.ranking import global_prefix_sum

    per_v = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # global_prefix_sum pins its own checkpoint internally — no extra
    # materialization needed for ex_cum; sk_cum is ≤ QSKETCH_BINS rows
    # (small frame — localCheckpoint is the right tool, addendum 7)
    ex_cum = global_prefix_sum(per_v, ["v"], "c", out_col="cum")
    sk_cum = sk_cum.localCheckpoint(eager=True)
    # one row per quantile, each rank selection a SCALAR subquery over
    # the cumulative frames — a `cum >= k` theta-JOIN would plan as a
    # nested loop (sweep-banned); the subquery form keeps the plan
    # join-free (both cum frames checkpoint once for the 2·|QS| probes)
    legs = []
    for q in QSKETCH_QS:
        k_expr = F.expr(f"({q} * __n + 99) div 100")
        exact_q = (
            ex_cum.withColumn("__n", n)
            .filter(F.col("cum") >= k_expr)
            .agg(F.min("v"))
            .scalar()
        )
        est_q = (
            sk_cum.withColumn("__n", n)
            .filter(F.col("cum") >= k_expr)
            .agg(F.min("bin"))
            .scalar()
        )
        legs.append(
            spark.range(1).select(
                F.lit(q).cast("int").alias("q_pct"),
                F.lit(0).alias("__dummy"),
            )
            .withColumn("__n", n)
            .withColumn("k", F.expr(f"({q} * __n + 99) div 100"))
            .withColumn("exact_cents", exact_q)
            .withColumn("est_bin", est_q)
            .drop("__dummy", "__n")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return (
        out.withColumn("__lo", lo)
        .withColumn("__hi", hi)
        .withColumn(
            "bin_lo_cents",
            F.expr(f"__lo + est_bin * (__hi - __lo + 1) div {QSKETCH_BINS}"),
        )
        .withColumn(
            "bin_hi_cents",
            F.expr(
                f"__lo + ((est_bin + 1) * (__hi - __lo + 1)) div {QSKETCH_BINS}"
                " - 1"
            ),
        )
        .select(
            "q_pct",
            "k",
            "exact_cents",
            "est_bin",
            "bin_lo_cents",
            "bin_hi_cents",
            (
                (F.col("exact_cents") >= F.col("bin_lo_cents"))
                & (F.col("exact_cents") <= F.col("bin_hi_cents"))
            ).alias("within_bound"),
        )
    )


q_quantile_sketch_histogram.__doc__ = q_quantile_sketch_histogram.__doc__.format(
    b=QSKETCH_BINS
)

_QSK_QS_VALUES = ", ".join(f"({q})" for q in QSKETCH_QS)

ORACLE_QUANTILE_SKETCH_HISTOGRAM = f"""
WITH vals AS MATERIALIZED (
  SELECT CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v FROM orders
),
stats AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM vals),
sk AS (
  SELECT (v - lo) * {QSKETCH_BINS} // (hi - lo + 1) AS bin, count(*) AS c
  FROM vals CROSS JOIN stats GROUP BY 1
),
sk_cum AS (
  SELECT bin, SUM(c) OVER (ORDER BY bin
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sk
),
ex_cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT v, count(*) AS c FROM vals GROUP BY 1)
),
ranks AS (
  SELECT q_pct, (q_pct * n + 99) // 100 AS k
  FROM (VALUES {_QSK_QS_VALUES}) AS g(q_pct) CROSS JOIN stats
),
exact AS (
  SELECT q_pct, k, min(v) AS exact_cents
  FROM ranks JOIN ex_cum ON cum >= k GROUP BY 1, 2
),
est AS (
  SELECT q_pct, min(bin) AS est_bin
  FROM ranks JOIN sk_cum ON cum >= k GROUP BY 1
)
SELECT e.q_pct, CAST(e.k AS BIGINT) AS k,
       e.exact_cents, s.est_bin,
       lo + s.est_bin * (hi - lo + 1) // {QSKETCH_BINS} AS bin_lo_cents,
       lo + ((s.est_bin + 1) * (hi - lo + 1)) // {QSKETCH_BINS} - 1
         AS bin_hi_cents,
       e.exact_cents
         BETWEEN lo + s.est_bin * (hi - lo + 1) // {QSKETCH_BINS}
             AND lo + ((s.est_bin + 1) * (hi - lo + 1)) // {QSKETCH_BINS} - 1
         AS within_bound
FROM exact e JOIN est s USING (q_pct) CROSS JOIN stats
"""

EXT_QUERIES["quantile_sketch_histogram"] = q_quantile_sketch_histogram
EXT_ORACLES["quantile_sketch_histogram"] = ORACLE_QUANTILE_SKETCH_HISTOGRAM


# ---------------------------------------------------------------------------
# GIF87a decode — LZW entropy coding from first principles (variable-
# width codes, dictionary resets, KwKwK) with zero codec libraries;
# shrinks KNOWN_LIMITS §3's codec tail further (reference parity:
# the multimodal decode seam, BASELINE.json extension surface)
# ---------------------------------------------------------------------------

GIF_COLORS = 16            # 4-bit palette -> LZW min code size 4
GIF_LZW_MIN = 4
GIF_CLEAR_EVERY = 64       # encoder re-emits CLEAR mid-stream: a decoder
                           # that ignores dictionary resets breaks


def _gif_width_height(doc_id: int) -> tuple[int, int]:
    return 7 + doc_id % 10, 5 + doc_id % 7


def _gif_palette(doc_id: int, c: int) -> tuple[int, int, int]:
    return (
        (doc_id * 7 + c * 31) % 256,
        (doc_id * 11 + c * 17) % 256,
        (doc_id * 3 + c * 53) % 256,
    )


def _gif_index(doc_id: int, x: int, y: int) -> int:
    return (doc_id + 3 * x + 7 * y) % GIF_COLORS


def _lzw_encode_gif(indices: list[int], min_code: int = GIF_LZW_MIN,
                    clear_every: int = GIF_CLEAR_EVERY) -> bytes:
    """GIF-variant LZW: variable code width starting min_code+1,
    CLEAR/EOI codes, 12-bit width cap, LSB-first bit packing.
    ``clear_every`` forces a mid-stream CLEAR after that many data
    codes so decoders must implement the reset path, not just the
    happy path; the table also CLEARs when it fills (code 4095).

    Code-width protocol (the spec's notorious off-by-one): the decoder
    adds its table entry one code LATER than the encoder (it needs the
    next code's first symbol), so the width switch the two sides agree
    on is the DECODER's — grow after an add makes nxt == 2^width − 1.
    Rather than mirror that with a hand-offset encoder rule, the
    encoder assigns widths by SIMULATING the decoder's state machine
    over the emitted code stream (one add per data code except the
    first after each CLEAR). On the normal path this reproduces the
    canonical encoder timing (grow when the encoder's own add count
    reaches 2^width) exactly; on the flush-then-CLEAR / flush-then-EOI
    edges — where the encoder emits a code WITHOUT adding an entry but
    the decoder still adds one — the simulation keeps both sides
    bit-synchronized where a local encoder-side rule would drift."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    codes: list[int] = []

    def fresh():
        return {(i,): i for i in range(1 << min_code)}, eoi + 1

    table, nxt = fresh()
    codes.append(clear)
    buf: tuple[int, ...] = ()
    emitted = 0
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        codes.append(table[buf])
        emitted += 1
        table[cand] = nxt
        nxt += 1
        buf = (idx,)
        if emitted % clear_every == 0 or nxt == 4096:
            codes.append(table[buf])
            codes.append(clear)
            table, nxt = fresh()
            buf = ()
            emitted = 0
    if buf:
        codes.append(table[buf])
    codes.append(eoi)

    # width assignment = decoder simulation (see docstring), then
    # LSB-first bit packing
    acc = n_bits = 0
    by = bytearray()
    width, sim_nxt, first = min_code + 1, eoi + 1, True
    for code in codes:
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            by.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
        if code == clear:
            width, sim_nxt, first = min_code + 1, eoi + 1, True
        elif code != eoi:
            if first:
                first = False
            elif sim_nxt < 4096:
                sim_nxt += 1
                if sim_nxt == (1 << width) - 1 and width < 12:
                    width += 1
    if n_bits:
        by.append(acc & 0xFF)
    return bytes(by)


def _lzw_decode_gif(data: bytes, min_code: int = GIF_LZW_MIN) -> list[int]:
    """The inverse: LSB-first bit reader, CLEAR resets the table and
    code width, EOI stops, the KwKwK case (code == next free code)
    resolves as prev + prev[0]. Width grows after an add makes
    nxt == 2^width − 1 — the decoder-side rule that stays synchronized
    with canonical encoders, which add entries one code EARLIER and
    grow at their own add count == 2^width (see _lzw_encode_gif)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    base = {i: (i,) for i in range(1 << min_code)}
    table = dict(base)
    width = min_code + 1
    nxt = eoi + 1
    acc = n_bits = pos = 0
    prev: tuple[int, ...] | None = None
    out: list[int] = []
    while True:
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = dict(base)
            width = min_code + 1
            nxt = eoi + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == nxt:
            entry = prev + (prev[0],)   # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range (next {nxt})")
        out.extend(entry)
        if prev is not None and nxt < 4096:
            table[nxt] = prev + (entry[0],)
            nxt += 1
            if nxt == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


def _gif_bytes(doc_id: int) -> bytes:
    """Real GIF87a: header, logical screen descriptor, 16-entry global
    color table, image descriptor, LZW-compressed 4-bit pixel indices
    split into <=255-byte sub-blocks, trailer. The encoder re-emits
    CLEAR every {ce} data codes (see _lzw_encode_gif)."""
    w, h = _gif_width_height(doc_id)
    hdr = b"GIF87a" + struct.pack("<HH", w, h) + bytes([0x80 | 0x03, 0, 0])
    pal = b"".join(bytes(_gif_palette(doc_id, c)) for c in range(GIF_COLORS))
    imgdesc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    idx = [_gif_index(doc_id, x, y) for y in range(h) for x in range(w)]
    comp = _lzw_encode_gif(idx)
    blocks = bytearray([GIF_LZW_MIN])
    for i in range(0, len(comp), 255):
        part = comp[i : i + 255]
        blocks += bytes([len(part)]) + part
    blocks += b"\x00"
    return hdr + pal + imgdesc + bytes(blocks) + b"\x3b"


_gif_bytes.__doc__ = _gif_bytes.__doc__.format(ce=GIF_CLEAR_EVERY)


def _decode_gif(doc_id, buf: bytes):
    if buf[:6] != b"GIF87a":
        raise ValueError(f"doc {doc_id}: not a GIF87a payload")
    packed = buf[10]
    if not packed & 0x80:
        raise ValueError(f"doc {doc_id}: no global color table")
    n_colors = 2 << (packed & 0x07)
    pos = 13
    pal = [tuple(buf[pos + 3 * c : pos + 3 * c + 3]) for c in range(n_colors)]
    pos += 3 * n_colors
    if buf[pos] != 0x2C:
        raise ValueError(f"doc {doc_id}: expected image descriptor")
    iw, ih = struct.unpack_from("<HH", buf, pos + 5)
    if buf[pos + 9] & 0xC0:
        raise ValueError(f"doc {doc_id}: unsupported GIF variant")
    min_code = buf[pos + 10]
    pos += 11
    comp = bytearray()
    while ln := buf[pos]:
        comp += buf[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    if buf[pos + 1] != 0x3B:
        raise ValueError(f"doc {doc_id}: missing trailer")
    idx = _lzw_decode_gif(bytes(comp), min_code)
    if len(idx) != iw * ih:
        raise ValueError(f"doc {doc_id}: decoded {len(idx)} != {iw * ih} px")
    rgb = np.array([pal[i] for i in idx], dtype=np.int64)
    return [(doc_id, iw, ih, iw * ih, _luma(rgb))]


def q_multimodal_decode_gif(spark, sf_dir):
    """GIF87a DECODE over a binary column: encodes a real GIF per
    document (16-color global palette, LZW variable-width codes with
    mid-stream CLEAR resets, sub-block framing), then an independent
    mapInPandas stage decodes the ACTUAL bytes — header walk, palette
    read, sub-block reassembly, full LZW (width growth, reset, KwKwK)
    — and emits the same integer stats as the PNG/JPEG gates. The
    oracle recomputes them analytically from the index+palette
    formulas, so a mis-stepped code width, an ignored CLEAR, or a
    palette off-by-one all break the hash. LZW is implemented from
    the published GIF87a spec with ZERO codec libraries — after PNG
    (DEFLATE) and JPEG (Huffman+DCT), the third compressed format
    decoded from first principles; KNOWN_LIMITS §3's remaining tail
    is only the non-stdlib entropy codecs (MP3/H.264).

    100 TB notes: two map-only Arrow-batched passes, no shuffle; a
    real corpus swaps the encode stage for a parquet binary read."""
    return _codec_roundtrip(
        spark,
        sf_dir,
        _gif_bytes,
        _decode_gif,
        "doc_id long, width long, height long, n_pixels long, luma_milli long",
    )


ORACLE_MULTIMODAL_DECODE_GIF = """
WITH d AS (
  SELECT doc_id, 7 + doc_id % 10 AS w, 5 + doc_id % 7 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d
),
idx AS (
  SELECT doc_id, w, h,
         (doc_id + 3 * (i % w) + 7 * (i // w)) % 16 AS c
  FROM px
)
SELECT doc_id, w AS width, h AS height, COUNT(*) AS n_pixels,
       CAST(SUM(
         299 * ((doc_id * 7 + c * 31) % 256)
       + 587 * ((doc_id * 11 + c * 17) % 256)
       + 114 * ((doc_id * 3 + c * 53) % 256)
       ) AS BIGINT) AS luma_milli
FROM idx
GROUP BY doc_id, w, h
"""

EXT_QUERIES["multimodal_decode_gif"] = q_multimodal_decode_gif
EXT_ORACLES["multimodal_decode_gif"] = ORACLE_MULTIMODAL_DECODE_GIF


# ---------------------------------------------------------------------------
# Unicode NFC normalization + accent folding — the canonicalization
# pass a multilingual corpus needs BEFORE any hash-based dedup (the
# same text in composed vs decomposed form hashes differently and
# silently defeats exact/minhash dedup)
# ---------------------------------------------------------------------------

# Injected decomposed sequences: every 'a'/'e' gains a COMBINING ACUTE
# (U+0301) — the corpus is ASCII (asserted in tests), so the injection
# is the entire non-ASCII surface and both engines corrupt with the
# same literal SQL/column expression.
_COMBINING_ACUTE = "́"


def q_unicode_normalize_fold(spark, sf_dir):
    """UNICODE CANONICALIZATION over a deliberately decomposed corpus:
    inject combining acutes (NFD-style sequences), then (1) NFC-
    normalize — 'a'+U+0301 composes to U+00E1 so the codepoint count
    DROPS (n_raw vs n_nfc pins that composition actually happened, not
    a pass-through) — and (2) accent-FOLD to the ASCII skeleton
    (NFD → drop Mn marks → NFC), the form search/dedup keys use.
    Normalization runs in python unicodedata inside ONE Arrow-batched
    mapInPandas pass; hashes are computed JVM-side with the portable
    md5-prefix hash ON the returned strings, so the gate pins the
    UTF-8 bytes of both forms against DuckDB's ICU-backed
    nfc_normalize/strip_accents — two independent Unicode
    implementations agreeing byte-for-byte.

    100 TB notes: map-only (no shuffle), linear in corpus bytes; the
    Arrow batch is the unit of python work. In production this runs
    once at ingest and PERSISTS the canonical text — every downstream
    hash-keyed operator (dedup_exact, minhash, winnowing) reads the
    canonical column."""
    import unicodedata

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    corrupt = d.select(
        "doc_id",
        F.replace(
            F.replace(
                F.col("text"), F.lit("a"), F.lit("a" + _COMBINING_ACUTE)
            ),
            F.lit("e"),
            F.lit("e" + _COMBINING_ACUTE),
        ).alias("t"),
    )

    def canon(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nfc = pdf["t"].map(lambda x: unicodedata.normalize("NFC", x))
            folded = nfc.map(
                lambda x: unicodedata.normalize(
                    "NFC",
                    "".join(
                        c
                        for c in unicodedata.normalize("NFD", x)
                        if unicodedata.category(c) != "Mn"
                    ),
                )
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_raw": pdf["t"].map(len),
                    "nfc": nfc,
                    "folded": folded,
                }
            )

    out = corrupt.mapInPandas(
        canon, schema="doc_id long, n_raw long, nfc string, folded string"
    )
    return out.select(
        "doc_id",
        "n_raw",
        F.length("nfc").alias("n_nfc"),
        _h(F.col("nfc")).alias("nfc_hash"),
        _h(F.col("folded")).alias("folded_hash"),
    )


ORACLE_UNICODE_NORMALIZE_FOLD = f"""
WITH c AS (
  SELECT doc_id,
         replace(replace(text, 'a', 'a' || chr(769)), 'e', 'e' || chr(769))
           AS t
  FROM documents
),
n AS (
  SELECT doc_id, length(t) AS n_raw, nfc_normalize(t) AS nfc FROM c
)
SELECT doc_id, n_raw, length(nfc) AS n_nfc,
       {H_SQL.format(x="nfc")} AS nfc_hash,
       {H_SQL.format(x="strip_accents(nfc)")} AS folded_hash
FROM n
"""

EXT_QUERIES["unicode_normalize_fold"] = q_unicode_normalize_fold
EXT_ORACLES["unicode_normalize_fold"] = ORACLE_UNICODE_NORMALIZE_FOLD
