"""Pinned behavior + independent references for the round-8 wave-4
operators (market basket, grouped OLS, k-anonymity, schema evolution,
k-core, Gopher rules, intra-doc dedup, span corruption). The oracle
gates prove cross-engine determinism; these tests pin the SEMANTICS —
an algorithmic reference where the operator is an algorithm (OLS,
k-core), and both-branches evidence for the filters."""

import math
import os
from collections import defaultdict

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# market_basket_pairs
# ---------------------------------------------------------------------------


def test_market_basket_support_and_lift(spark):
    """Every reported pair clears the support floor in RAW data (not
    just post-join bookkeeping), confidence is exact floor-ppm of
    pair/item support, and apriori pruning loses nothing: recomputing
    pairs WITHOUT the frequent-item prefilter yields the same set."""
    from defi_features_data_pipeline_spark.queries.warehouse import (
        BASKET_MIN_SUPPORT,
        q_market_basket_pairs,
    )

    rows = q_market_basket_pairs(spark, SF_DIR).collect()
    assert rows, "no frequent pairs at sf0.001"
    raw = duckdb.sql(
        f"""WITH items AS (SELECT DISTINCT l_orderkey o, l_partkey p
            FROM read_parquet('{SF_DIR}/lineitem.parquet'))
            SELECT a.p, b.p, count(*) FROM items a
            JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2"""
    ).fetchall()
    truth = {(p1, p2): c for p1, p2, c in raw if c >= BASKET_MIN_SUPPORT}
    got = {(r["p1"], r["p2"]): r["pair_orders"] for r in rows}
    assert got == truth  # apriori pruning is lossless
    for r in rows:
        assert r["conf12_ppm"] == r["pair_orders"] * 1_000_000 // r["n1"]
        assert 0 < r["conf12_ppm"] <= 1_000_000


# ---------------------------------------------------------------------------
# grouped_linear_trend — numpy polyfit reference
# ---------------------------------------------------------------------------


def test_grouped_linear_trend_numpy_reference(spark):
    """The closed-form decimal-exact slope must agree with numpy's
    least-squares fit on the same (x, y) points — the PCA lesson: a
    hash-matching trajectory can still be the wrong algorithm."""
    import numpy as np

    from defi_features_data_pipeline_spark.queries.warehouse import (
        TREND_EPOCH_BASE,
        q_grouped_linear_trend,
    )

    got = {
        r["user_id"]: (r["slope_per_day"], r["intercept_at_base"])
        for r in q_grouped_linear_trend(spark, SF_DIR).collect()
    }
    assert got
    pts = defaultdict(list)
    for uid, t, v in duckdb.sql(
        f"""SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT), value
            FROM read_parquet('{SF_DIR}/events.parquet')"""
    ).fetchall():
        pts[uid].append((t - TREND_EPOCH_BASE, v))
    for uid, (slope_day, intercept) in got.items():
        x = np.array([p[0] for p in pts[uid]], dtype=float)
        y = np.array([p[1] for p in pts[uid]], dtype=float)
        ref_slope, ref_int = np.polyfit(x, y, 1)
        assert math.isclose(slope_day, ref_slope * 86400.0, rel_tol=1e-9)
        assert math.isclose(intercept, ref_int, rel_tol=1e-9)


# ---------------------------------------------------------------------------
# k_anonymity_suppress
# ---------------------------------------------------------------------------


def test_k_anonymity_no_small_group_released(spark):
    """The defining property: among released (non-suppressed) rows,
    every (segment, nation) combination has >= k members; suppressed
    rows expose only '*'. sf0.001 exercises both branches (groups run
    1..6 against k=5; larger SFs release everything — k-anonymity risk
    shrinks as data grows, which is the point of the metric)."""
    from defi_features_data_pipeline_spark.queries.warehouse import (
        K_ANONYMITY,
        q_k_anonymity_suppress,
    )

    rows = q_k_anonymity_suppress(spark, SF_DIR).collect()
    released = defaultdict(int)
    n_sup = 0
    for r in rows:
        if r["suppressed"]:
            n_sup += 1
            assert r["segment_released"] == "*"
            assert r["nation_released"] == "*"
        else:
            released[(r["segment_released"], r["nation_released"])] += 1
    assert n_sup > 0 and released, "both branches must be exercised"
    assert all(v >= K_ANONYMITY for v in released.values())


# ---------------------------------------------------------------------------
# schema_evolution_read
# ---------------------------------------------------------------------------


def test_schema_evolution_null_backfill(spark):
    """Epoch-1 files (written before the column existed) read back with
    NULL quality_ppm; epoch-2 rows all carry a value; no rows lost."""
    from defi_features_data_pipeline_spark.queries.warehouse import (
        q_schema_evolution_read,
    )

    rows = q_schema_evolution_read(spark, SF_DIR).collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    assert len(rows) == n_docs
    for r in rows:
        if r["epoch"] == 1:
            assert r["quality_ppm"] is None
        else:
            assert r["quality_ppm"] is not None


# ---------------------------------------------------------------------------
# graph_kcore — python peel reference + containment properties
# ---------------------------------------------------------------------------


def _edges():
    from defi_features_data_pipeline_spark.queries.extensions import (
        lsh_edges_dir,
    )

    path = os.path.join(lsh_edges_dir(SF_DIR), "edges")
    if not os.path.isdir(path):
        pytest.skip("lsh_edges artifact not built for sf0.001")
    rows = duckdb.sql(
        f"SELECT doc_a, doc_b FROM read_parquet('{path}/*.parquet')"
    ).fetchall()
    sym = set()
    for a, b in rows:
        sym.add((a, b))
        sym.add((b, a))
    return sorted(sym)


def test_graph_kcore_python_reference(spark):
    from defi_features_data_pipeline_spark.queries.extensions import (
        KCORE_K,
        KCORE_ROUNDS,
        q_graph_kcore,
    )

    ed = _edges()
    nbrs = defaultdict(set)
    for s, d in ed:
        nbrs[d].add(s)
    active = set(nbrs)
    for _ in range(KCORE_ROUNDS):
        deg = {
            n: sum(1 for s in nbrs[n] if s in active)
            for n in active
        }
        active = {n for n in active if deg[n] >= KCORE_K}
    got = {
        r["doc_id"]: r["core_degree"]
        for r in q_graph_kcore(spark, SF_DIR).collect()
    }
    assert set(got) == active
    for n, d in got.items():
        assert d == sum(1 for s in nbrs[n] if s in active)
    # peel must actually remove something on this graph (near-dup
    # graphs are pair-heavy), and survivors satisfy the core property
    assert len(active) < len(nbrs)
    assert all(d >= KCORE_K for d in got.values())


# ---------------------------------------------------------------------------
# gopher_rules_filter
# ---------------------------------------------------------------------------


def test_gopher_rules_flags_consistent(spark):
    """keep is exactly the conjunction of the per-rule flags, and the
    corpus exercises both keep branches (else the gate tests nothing)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_gopher_rules_filter,
    )

    rows = q_gopher_rules_filter(spark, SF_DIR_01).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows)
    for r in rows:
        assert r["keep"] == (
            r["r_len"] and r["r_wordlen"] and r["r_toprep"]
            and r["r_diverse"] and r["r_stop"]
        )


# ---------------------------------------------------------------------------
# intra_doc_block_dedup
# ---------------------------------------------------------------------------


def test_intra_doc_dedup_removes_and_preserves_first(spark):
    """Cleaned text = first occurrences in order; removed count matches
    a python reference; some doc at sf0.01 actually loses blocks."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        INTRA_BLOCK_W,
        q_intra_doc_block_dedup,
    )

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR_01}/documents.parquet')"
        ).fetchall()
    )
    rows = q_intra_doc_block_dedup(spark, SF_DIR_01).collect()
    assert any(r["n_removed"] > 0 for r in rows)
    for r in rows[:50]:
        toks = [t for t in texts[r["doc_id"]].lower().split() if t]
        blocks = [
            " ".join(toks[j * INTRA_BLOCK_W:(j + 1) * INTRA_BLOCK_W])
            for j in range((len(toks) + INTRA_BLOCK_W - 1) // INTRA_BLOCK_W)
        ]
        seen, kept = set(), []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        assert r["cleaned_text"] == " ".join(kept)
        assert r["n_removed"] == len(blocks) - len(kept)


# ---------------------------------------------------------------------------
# span_corruption_masks
# ---------------------------------------------------------------------------


def test_span_corruption_reconstructs(spark):
    """Sentinel count in the corrupted input equals n_masked; splicing
    the targets back into the sentinels reproduces the original block
    stream (the denoising objective's round-trip identity)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_span_corruption_masks,
    )

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    rows = q_span_corruption_masks(spark, SF_DIR).collect()
    frac = sum(r["n_masked"] for r in rows) / sum(r["n_blocks"] for r in rows)
    assert 0.15 < frac < 0.35  # ~1/4 of blocks masked
    for r in rows[:50]:
        corrupted = r["corrupted_text"].split()
        assert corrupted.count("<X>") == r["n_masked"]
        targets = (
            r["targets_text"].split(" <X> ") if r["targets_text"] else []
        )
        assert len(targets) == r["n_masked"]
        out, ti = [], 0
        i = 0
        while i < len(corrupted):
            if corrupted[i] == "<X>":
                out.extend(targets[ti].split())
                ti += 1
                i += 1
            else:
                out.append(corrupted[i])
                i += 1
        orig = [t for t in texts[r["doc_id"]].lower().split() if t]
        assert out == orig


# ---------------------------------------------------------------------------
# chi2_token_selection — python contingency reference
# ---------------------------------------------------------------------------


def test_chi2_python_reference(spark):
    """Recompute every (lang, token) χ² in pure python from raw doc-
    level counts; the gate's per-language top-k (with the chi2-desc,
    token-asc tie order) must match exactly."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        CHI2_TOP_K,
        q_chi2_token_selection,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, lang, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    N = len(docs)
    lang_docs = defaultdict(int)
    lt = defaultdict(int)
    tok_df = defaultdict(int)
    for _, lang, text in docs:
        lang_docs[lang] += 1
        for tok in set(t for t in text.lower().split() if t):
            lt[(lang, tok)] += 1
            tok_df[tok] += 1
    scored = defaultdict(list)
    for (lang, tok), n11 in lt.items():
        r1, c1 = lang_docs[lang], tok_df[tok]
        n10, n01 = c1 - n11, r1 - n11
        n00 = N - r1 - c1 + n11
        phi = n11 * n00 - n10 * n01
        chi2 = ((float(phi) * float(phi)) * float(N)) / (
            (float(r1) * float(N - r1)) * (float(c1) * float(N - c1))
        )
        scored[lang].append((-chi2, tok, phi))
    want = {}
    for lang, rows in scored.items():
        rows.sort()
        for rk, (neg, tok, phi) in enumerate(rows[:CHI2_TOP_K], 1):
            want[(lang, rk)] = (tok, -neg, phi)
    got = {
        (r["lang"], r["rank_in_lang"]): (r["tok"], r["chi2"], r["phi"])
        for r in q_chi2_token_selection(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k, (tok, chi2, phi) in got.items():
        assert want[k][0] == tok
        assert want[k][2] == phi
        assert math.isclose(want[k][1], chi2, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# count_min_sketch — one-sided error contract
# ---------------------------------------------------------------------------


def test_count_min_one_sided_error(spark):
    """CM's defining contract: estimate >= truth for EVERY key (min of
    counters that each include the key's full count), with at least one
    real collision at sf0.01 (150 keys into 64-wide rows)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_count_min_sketch,
    )

    rows = q_count_min_sketch(spark, SF_DIR_01).collect()
    truth = dict(
        duckdb.sql(
            f"""SELECT user_id, count(*) FROM
                read_parquet('{SF_DIR_01}/events.parquet') GROUP BY 1"""
        ).fetchall()
    )
    assert len(rows) == len(truth)
    assert all(r["true_count"] == truth[r["user_id"]] for r in rows)
    assert all(r["overestimate"] >= 0 for r in rows)
    assert any(r["overestimate"] > 0 for r in rows), (
        "no collision at 150 keys x 4x64 grid — sketch wiring suspect"
    )


# ---------------------------------------------------------------------------
# rare_category_collapse
# ---------------------------------------------------------------------------


def test_rare_category_collapse_branches(spark):
    """Released value is the category iff its exact share clears the
    floor, OTHER otherwise; the ~100-level k domain straddles the 1%
    line so both branches must appear."""
    from defi_features_data_pipeline_spark.queries.featureops import (
        RARE_MIN_PPM,
        q_rare_category_collapse,
    )

    rows = q_rare_category_collapse(spark, SF_DIR_01).collect()
    kept = [r for r in rows if r["category_released"] != "OTHER"]
    collapsed = [r for r in rows if r["category_released"] == "OTHER"]
    assert kept and collapsed
    for r in rows:
        if r["share_ppm"] >= RARE_MIN_PPM:
            assert r["category_released"] == r["category"]
        else:
            assert r["category_released"] == "OTHER"


# ---------------------------------------------------------------------------
# lsh_cc_labels artifact — freshness discipline
# ---------------------------------------------------------------------------


def test_lsh_cc_labels_rebuilds_on_stale_meta(spark, tmp_path, monkeypatch):
    """A meta fingerprint that disagrees with the corpus forces a
    REBUILD (never serves stale labels); after the rebuild the meta is
    fresh again and keep_best still matches its oracle semantics.

    The poison-and-rebuild runs against a TEMP COPY of the artifact
    root (monkeypatched LSH_CC_ROOT): rebuilding in place rewrote the
    committed cache parquet parts with fresh run-UUID filenames on
    every test run, perpetually dirtying the repo and staling the
    committed cache — the load-first intent requires the committed
    artifact to survive the suite byte-for-byte."""
    import shutil

    import defi_features_data_pipeline_spark.queries.extensions as X

    def _listing(root):
        return sorted(
            (os.path.join(dp, f), os.path.getmtime(os.path.join(dp, f)))
            for dp, _, fs in os.walk(root)
            for f in fs
        )

    key = os.path.normpath(SF_DIR)
    # warm path first against the COMMITTED root (also builds if
    # missing); this is a pure read when the committed cache is fresh
    subdir = X._artifact_subdir(SF_DIR)
    mpath_committed = os.path.join(X.LSH_CC_ROOT, subdir, "meta")
    was_fresh = os.path.isdir(mpath_committed)
    committed_before = _listing(X.LSH_CC_ROOT)
    before = {
        (r["node"], r["label"]) for r in X._lsh_cc_labels(spark, SF_DIR).collect()
    }
    if was_fresh:  # first run in a bare env legitimately builds
        assert _listing(X.LSH_CC_ROOT) == committed_before, (
            "warm load rewrote the committed cache — load-first broken"
        )
    tmp_root = str(tmp_path / "lsh_cc_labels")
    shutil.copytree(X.LSH_CC_ROOT, tmp_root)
    monkeypatch.setattr(X, "LSH_CC_ROOT", tmp_root)
    X._LSH_CC_CACHE.pop(key, None)
    adir = os.path.join(tmp_root, subdir)
    mpath = os.path.join(adir, "meta")
    # poison the meta: wrong row count
    spark.createDataFrame(
        [(999999, 1, 1)], "n bigint, s bigint, c bigint"
    ).coalesce(1).write.mode("overwrite").parquet(mpath)
    after = {
        (r["node"], r["label"]) for r in X._lsh_cc_labels(spark, SF_DIR).collect()
    }
    assert after == before  # rebuilt from the same corpus -> same labels
    m = spark.read.parquet(mpath).first()
    n, s_sum, c = X._docs_fingerprint(spark, SF_DIR)
    assert (m["n"], m["s"], m["c"]) == (n, s_sum, c)  # meta restored fresh
    # leave no stale pointer into the (soon-deleted) tmp root behind
    X._LSH_CC_CACHE.pop(key, None)


def test_incremental_minhash_corrupt_stage_raises(spark, monkeypatch):
    """A corrupt staged band table fails the gate instead of reading as
    "zero documents": the stage is probed for parquet files, and only
    an empty listing means an empty corpus."""
    import defi_features_data_pipeline_spark.sources.fsutil as fsutil
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_dedup_incremental_minhash,
    )

    listing = fsutil.list_parquet_files

    def corrupt_after_listing(spark_, path):
        files = listing(spark_, path)
        for p, _ in files:
            with open(p.removeprefix("file:"), "wb") as f:
                f.write(b"not parquet")
        return files

    monkeypatch.setattr(fsutil, "list_parquet_files", corrupt_after_listing)
    with pytest.raises(Exception):
        q_dedup_incremental_minhash(spark, SF_DIR)


def test_fingerprinted_artifact_load_or_build(spark, tmp_path):
    """The load-or-build helper behind the LSH-edge, LSH-label, ER-edge
    and DBSCAN artifacts: a garbage, zero-row or column-short meta
    rebuilds; an error inside ``build`` (raised, or raised by its
    DataFrame while it is written) propagates and leaves the committed
    data and meta byte-identical; a memo hit runs no Spark job."""
    from pyspark.sql import functions as F

    from defi_features_data_pipeline_spark.queries.extensions import (
        _fingerprinted_artifact,
    )

    root = str(tmp_path / "artifact")
    meta = os.path.join(root, "meta")
    cache: dict = {}
    builds = []
    want = [(1, 2), (3, 4)]

    def build():
        builds.append(1)
        return spark.createDataFrame(want, "a bigint, b bigint")

    def load(build=build, fp=(2, 4)):
        cache.clear()
        df = _fingerprinted_artifact(
            spark, root, cache, "corpus", "data",
            lambda: dict(zip("ns", fp)), build,
        )
        return sorted(map(tuple, df.collect()))

    def write_meta(rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(meta)

    def committed():
        return {
            os.path.join(dp, f): open(os.path.join(dp, f), "rb").read()
            for sub in ("data", "meta")
            for dp, _, fs in os.walk(os.path.join(root, sub))
            for f in fs
        }

    assert load() == want and len(builds) == 1
    assert load() == want and len(builds) == 1  # fresh meta: a pure load

    for f in os.listdir(meta):  # garbage meta part file
        if f.endswith(".parquet"):
            with open(os.path.join(meta, f), "wb") as fh:
                fh.write(b"not parquet")
    assert load() == want and len(builds) == 2

    write_meta([], "n bigint, s bigint")  # zero-row meta
    assert load() == want and len(builds) == 3

    write_meta([(2,)], "n bigint")  # meta missing a fingerprint column
    assert load() == want and len(builds) == 4
    assert load() == want and len(builds) == 4

    before = committed()

    def raising():
        raise RuntimeError("build failed")

    def failing_df():
        return spark.range(1).select(F.raise_error(F.lit("write failed")).alias("a"))

    with pytest.raises(RuntimeError, match="build failed"):
        load(build=raising, fp=(3, 4))
    with pytest.raises(Exception, match="write failed"):
        load(build=failing_df, fp=(3, 4))
    assert committed() == before
    assert load() == want and len(builds) == 4

    sc = spark.sparkContext
    sc.setJobGroup("fingerprinted_artifact_memo_hit", "memo hit")
    try:
        df = _fingerprinted_artifact(
            spark, root, cache, "corpus", "data", raising, raising
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(
        "fingerprinted_artifact_memo_hit"
    ) == []
    assert sorted(map(tuple, df.collect())) == want


# ---------------------------------------------------------------------------
# streaming_count_min — stream/batch sketch equivalence
# ---------------------------------------------------------------------------


def test_streaming_cm_equals_batch_cm(spark):
    """Cell-wise summed per-batch partial grids must give the EXACT
    same estimates as the monolithic batch sketch (CM counters are
    linear, so mergeability is equality, not approximation)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_count_min_sketch,
        q_streaming_count_min,
    )

    batch = {
        r["user_id"]: (r["true_count"], r["cm_estimate"])
        for r in q_count_min_sketch(spark, SF_DIR).collect()
    }
    stream = {
        r["user_id"]: (r["true_count"], r["cm_estimate"])
        for r in q_streaming_count_min(spark, SF_DIR).collect()
    }
    assert stream == batch


# ---------------------------------------------------------------------------
# per_key_cap_sample
# ---------------------------------------------------------------------------


def test_per_key_cap_and_stability(spark):
    """No source exceeds the cap; every source with >= cap docs hits it
    exactly; and the kept set is STABLE under corpus growth: the docs
    kept at sf0.001 that still rank within the cap at sf0.01 keep the
    same relative preference order (deterministic hash order, no
    re-roll)."""
    from collections import Counter

    from defi_features_data_pipeline_spark.queries.extensions import (
        CAP_PER_SOURCE,
        q_per_key_cap_sample,
    )

    rows = q_per_key_cap_sample(spark, SF_DIR).collect()
    per_src = Counter(r["source"] for r in rows)
    totals = dict(
        duckdb.sql(
            f"""SELECT source, count(*) FROM
                read_parquet('{SF_DIR}/documents.parquet') GROUP BY 1"""
        ).fetchall()
    )
    for src, total in totals.items():
        assert per_src[src] == min(total, CAP_PER_SOURCE)
    # stability: sf0.001 docs also present at sf0.01 (doc_id prefix)
    small = {(r["source"], r["doc_id"]): r["sample_rank"] for r in rows}
    big = {
        (r["source"], r["doc_id"]): r["sample_rank"]
        for r in q_per_key_cap_sample(spark, SF_DIR_01).collect()
    }
    common = set(small) & set(big)
    assert common
    for src in {s for s, _ in common}:
        sm = sorted(
            (small[k], k) for k in common if k[0] == src
        )
        bg = sorted((big[k], k) for k in common if k[0] == src)
        assert [k for _, k in sm] == [k for _, k in bg]


# ---------------------------------------------------------------------------
# tokenizer_fertility — consistency with the per-doc BPE gate
# ---------------------------------------------------------------------------


def test_fertility_consistent_with_per_doc_bpe(spark):
    """The per-language rollup must equal regrouping the per-doc BPE
    gate's outputs by language (same merge fold ⇒ same totals), and
    fertility is ≥ 1 piece per word."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_bpe_tokenize_apply,
        q_tokenizer_fertility,
    )

    langs = dict(
        duckdb.sql(
            f"SELECT doc_id, lang FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    per_doc = q_bpe_tokenize_apply(spark, SF_DIR).collect()
    agg = defaultdict(lambda: [0, 0])
    for r in per_doc:
        a = agg[langs[r["doc_id"]]]
        a[0] += r["n_chars"]
        a[1] += r["n_bpe_tokens"]
    got = {r["lang"]: r for r in q_tokenizer_fertility(spark, SF_DIR).collect()}
    assert set(got) == set(agg)
    for lang, (n_chars, n_pieces) in agg.items():
        assert got[lang]["n_chars"] == n_chars
        assert got[lang]["n_pieces"] == n_pieces
        assert got[lang]["pieces_per_word_ppm"] >= 1_000_000


# ---------------------------------------------------------------------------
# funnel_time_percentiles — python nearest-rank reference
# ---------------------------------------------------------------------------


def test_funnel_percentiles_python_reference(spark):
    """Recompute the funnel chain and nearest-rank percentiles in pure
    python; the gate's p50/p90 must be members of the latency multiset
    at exactly rank ceil(p·n/100)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_funnel_time_percentiles,
    )

    ev = duckdb.sql(
        f"""SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT), event_type
            FROM read_parquet('{SF_DIR_01}/events.parquet')"""
    ).fetchall()
    by_type = defaultdict(lambda: defaultdict(list))
    for uid, t, et in ev:
        by_type[et][uid].append(t)
    W = 86400
    t1 = {u: min(ts) for u, ts in by_type["view"].items()}
    t2 = {}
    for u, start in t1.items():
        c = [t for t in by_type["click"].get(u, []) if start <= t <= start + W]
        if c:
            t2[u] = min(c)
    t3 = {}
    for u, start in t2.items():
        c = [t for t in by_type["purchase"].get(u, []) if start <= t <= start + W]
        if c:
            t3[u] = min(c)
    lats = {
        "view_to_click": sorted(t2[u] - t1[u] for u in t2),
        "click_to_purchase": sorted(t3[u] - t2[u] for u in t3),
    }
    got = {r["step"]: r for r in q_funnel_time_percentiles(spark, SF_DIR_01).collect()}
    assert set(got) == {k for k, v in lats.items() if v}
    for step, xs in lats.items():
        if not xs:
            continue
        n = len(xs)
        assert got[step]["n_conversions"] == n
        for p, col in ((50, "p50_s"), (90, "p90_s")):
            k = -(-p * n // 100)  # ceil
            assert got[step][col] == xs[k - 1]


# ---------------------------------------------------------------------------
# changepoint_cusum — python reference with a planted shift
# ---------------------------------------------------------------------------


def test_changepoint_cusum_python_reference(spark):
    """Recompute the scaled CUSUM argmax per event type in pure python
    from the raw daily counts; the gate must pick the identical day and
    statistic, and on a synthetic planted-shift series the scaled-CUSUM
    formula must locate the shift exactly (formula sanity, independent
    of the corpus)."""
    from defi_features_data_pipeline_spark.queries.extensions import (
        q_changepoint_cusum,
    )

    rows = duckdb.sql(
        f"""SELECT event_type, CAST(epoch_us(ts) // 1000000 AS BIGINT) // 86400,
                   count(*)
            FROM read_parquet('{SF_DIR_01}/events.parquet') GROUP BY 1, 2"""
    ).fetchall()
    series = defaultdict(dict)
    for et, day, c in rows:
        series[et][day] = c
    want = {}
    for et, days in series.items():
        ds = sorted(days)
        total = sum(days.values())
        nd = len(ds)
        best = None
        prefix = 0
        for idx, day in enumerate(ds, 1):
            prefix += days[day]
            s = nd * prefix - idx * total
            key = (-abs(s), day)
            if best is None or key < best[0]:
                best = (key, day, s)
        want[et] = (best[1], best[2], nd, total)
    got = {
        r["event_type"]: (r["change_day"], r["s_scaled"], r["n_days"], r["total"])
        for r in q_changepoint_cusum(spark, SF_DIR_01).collect()
    }
    assert got == want
    # formula sanity on a planted level shift: 20 days at 10 then 20
    # days at 50 — scaled CUSUM must peak exactly at the last low day
    c = [10] * 20 + [50] * 20
    total, nd = sum(c), len(c)
    stats = []
    p = 0
    for i, x in enumerate(c, 1):
        p += x
        stats.append(abs(nd * p - i * total))
    assert stats.index(max(stats)) + 1 == 20


# ---------------------------------------------------------------------------
# stratified_kfold — exact balance
# ---------------------------------------------------------------------------


def test_stratified_kfold_exact_balance(spark):
    """Every (lang, fold) cell size differs by at most 1 within its
    stratum — the exact-balance property hash-mod splits lack — and
    assignment is deterministic across calls."""
    from collections import Counter

    from defi_features_data_pipeline_spark.queries.extensions import (
        KFOLD_K,
        q_stratified_kfold,
    )

    rows = q_stratified_kfold(spark, SF_DIR_01).collect()
    cells = Counter((r["lang"], r["fold"]) for r in rows)
    langs = {lang for lang, _ in cells}
    for lang in langs:
        sizes = [cells.get((lang, f), 0) for f in range(KFOLD_K)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
    again = q_stratified_kfold(spark, SF_DIR_01).collect()
    assert {(r["doc_id"], r["fold"]) for r in rows} == {
        (r["doc_id"], r["fold"]) for r in again
    }


# ---------------------------------------------------------------------------
# multimodal_decode_png — independent python decode + tamper detection
# ---------------------------------------------------------------------------


def test_png_payload_roundtrip_and_tamper_detection():
    """An independent pure-python PNG reader (zlib + unfilter) must
    recover exactly the generator formula's pixels — including across
    the two-IDAT split and the Sub-filtered odd rows — and a flipped
    payload byte must be detectable via the stored chunk CRC."""
    import struct
    import zlib

    from defi_features_data_pipeline_spark.queries.extensions import (
        _png_bytes,
        _png_pixel,
        _png_width_height,
    )

    for doc_id in (0, 7, 123, 4567):
        buf = _png_bytes(doc_id)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        pos, idat, dims = 8, b"", None
        n_idat = 0
        while pos < len(buf):
            (ln,) = struct.unpack_from(">I", buf, pos)
            typ = buf[pos + 4:pos + 8]
            data = buf[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
            assert zlib.crc32(typ + data) & 0xFFFFFFFF == crc
            if typ == b"IHDR":
                dims = struct.unpack(">II", data[:8])
            elif typ == b"IDAT":
                idat += data
                n_idat += 1
            pos += 12 + ln
        assert n_idat == 2  # multi-IDAT reassembly is exercised
        w, h = dims
        assert (w, h) == _png_width_height(doc_id)
        raw = zlib.decompress(idat)
        stride = 1 + w * 3
        for y in range(h):
            row = bytearray(raw[y * stride + 1:(y + 1) * stride])
            filt = raw[y * stride]
            assert filt == (0 if y % 2 == 0 else 1)
            if filt == 1:
                for i in range(3, len(row)):
                    row[i] = (row[i] + row[i - 3]) % 256
            for x in range(w):
                assert tuple(row[x * 3:x * 3 + 3]) == _png_pixel(doc_id, x, y)
        # tamper: flip one IDAT payload byte -> its CRC must mismatch
        tam = bytearray(buf)
        ihdr_end = 8 + 12 + 13
        (ln1,) = struct.unpack_from(">I", tam, ihdr_end)
        tam[ihdr_end + 8] ^= 0xFF
        typ = bytes(tam[ihdr_end + 4:ihdr_end + 8])
        data = bytes(tam[ihdr_end + 8:ihdr_end + 8 + ln1])
        (crc,) = struct.unpack_from(">I", tam, ihdr_end + 8 + ln1)
        assert zlib.crc32(typ + data) & 0xFFFFFFFF != crc
