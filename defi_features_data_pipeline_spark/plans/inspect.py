"""Physical-plan inspection helpers — used by tests to assert the plan
we want at scale (broadcast where intended, filters pushed to the
parquet scan), not just correct output."""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


# ---------------------------------------------------------------------------
# Corpus-broadcast audit — the structural form of the sf10 lesson
# ---------------------------------------------------------------------------

# Tables whose size grows with the corpus: at 100 TB NONE of these (nor
# any frame derived from them without a bounded reduction) fits in one
# executor's memory, so a plan that puts such a subtree under a
# BroadcastExchange is relying on a size ESTIMATE that happens to sit
# under spark.sql.autoBroadcastJoinThreshold at test scale — the exact
# mechanism behind both sf10 probe failures (dedup_lsh_verified,
# token_rarity_score: post-aggregate/compressed-bytes estimates).
CORPUS_TABLES = ("documents", "embeddings", "lineitem", "orders", "events")

# Nodes whose OUTPUT is bounded regardless of input size — a corpus
# scan above one of these is allowed under a broadcast:
#   - limit family: output ≤ k rows by definition
#   - global aggregate (no grouping keys): exactly 1 row
#   - left-semi join: the corpus side is reduced to the rows matching
#     the (bounded) candidate set — the shape the sf10 lsh fix used
_LIMIT_NODES = (
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "TakeOrderedAndProjectExec",
)
_AGG_NODES = ("HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")

# Columns whose value DOMAIN is a fixed enum by schema contract — an
# aggregate grouped SOLELY on these has at most |domain| output rows at
# any corpus size, so broadcasting it is size-safe by construction
# (the judge-blessed "bounded-key aggregate"). Keep this list to
# columns whose boundedness is a data-model fact, never a statistical
# observation:
#   event_type — the event taxonomy (borrow/repay/deposit/...), fixed
#                by the product's event schema, not by data volume
#   source     — the document-source registry: ingestion is configured
#                per named source, so the set is an operator-maintained
#                enum, not corpus-scaled
#   lang       — ISO language codes: a closed vocabulary by definition
BOUNDED_DOMAIN_COLUMNS = frozenset({"event_type", "source", "lang"})

_ATTR_RE = _re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _grouping_keys_bounded(node) -> bool:
    """True iff the aggregate's grouping expressions are all PLAIN
    attribute references to bounded-domain columns (any cast, function,
    or unknown column ⇒ not bounded — conservative)."""
    try:
        seq = node.groupingExpressions()
        n = seq.size()
    except Exception:  # noqa: BLE001
        return False
    if n == 0:
        return True  # global aggregate: 1 row
    for i in range(n):
        m = _ATTR_RE.match(seq.apply(i).toString())
        if m is None or m.group(1) not in BOUNDED_DOMAIN_COLUMNS:
            return False
    return True


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _subqueries(node) -> list:
    try:
        seq = node.subqueries()
        return [seq.apply(i) for i in range(seq.size())]
    except Exception:  # noqa: BLE001 — not every node exposes subqueries
        return []


def _scan_corpus_tables(node, corpus: tuple[str, ...]) -> set[str]:
    """Corpus tables a FileSourceScan reads, matched on the scan's file
    location paths (`.../<table>.parquet`)."""
    s = node.simpleString(2000)
    return {t for t in corpus if f"{t}.parquet" in s}


def _unbounded_corpus_tables(node, corpus: tuple[str, ...]) -> set[str]:
    """Corpus tables reachable from ``node`` with NO bounded reduction
    (limit / global aggregate / left-semi) on the path — i.e. the
    tables whose size this subtree's output still scales with."""
    name = node.getClass().getSimpleName()
    if name == "FileSourceScanExec":
        return _scan_corpus_tables(node, corpus)
    if name in _LIMIT_NODES:
        return set()
    if name in _AGG_NODES and _grouping_keys_bounded(node):
        return set()  # global or bounded-domain-keyed aggregate
    if "Join" in name:
        try:
            if node.joinType().toString() == "LeftSemi":
                # A semi join only BOUNDS its output when the filtering
                # (right) side is itself bounded — a corpus-scaled frame
                # semi-joined against a corpus-derived key set (e.g. a
                # frequent-item table) is still corpus-scaled, and an
                # estimate-fed broadcast above that shape must not pass.
                kids = _children(node)
                if len(kids) == 2:
                    if _unbounded_corpus_tables(kids[1], corpus):
                        return _unbounded_corpus_tables(kids[0], corpus)
                    return set()
                return set()
        except Exception:  # noqa: BLE001 — joins without joinType
            pass
    if name == "InMemoryTableScanExec":
        # cached relation: recurse into the cached plan, not children
        try:
            return _unbounded_corpus_tables(
                node.relation().cachedPlan(), corpus
            )
        except Exception:  # noqa: BLE001 — opaque cache ⇒ assume bounded
            return set()
    if name == "ReusedExchangeExec":
        # a reused exchange is a LEAF in the tree walk but its data is
        # the referenced exchange's output — without recursing into
        # node.child() any corpus subtree whose exchange happens to be
        # deduplicated by ReuseExchange silently escapes the sweep
        # (found live: count_min_sketch's broadcast grid bottomed out
        # here and the checker saw an empty subtree)
        try:
            return _unbounded_corpus_tables(node.child(), corpus)
        except Exception:  # noqa: BLE001 — opaque reuse ⇒ conservative
            return _scan_corpus_tables(node, corpus)
    out: set[str] = set()
    for c in _children(node):
        out |= _unbounded_corpus_tables(c, corpus)
    return out


def corpus_broadcast_violations(
    df: DataFrame, corpus: tuple[str, ...] = CORPUS_TABLES
) -> list[tuple[str, set[str]]]:
    """Audit a physical plan for ESTIMATE-DEPENDENT broadcasts: every
    BroadcastExchange whose build subtree scans a corpus table without
    a structural bound (limit, global aggregate, or left-semi
    reduction) in between. Such a plan only works while the optimizer's
    size estimate happens to stay under the broadcast threshold — a
    100× scale-up turns it into an executor-OOM or a driver collect of
    a corpus-scaled relation. Returns [(broadcast node string, tables)]
    — empty means every broadcast in the plan is safe by construction.

    Compose the DataFrame with AQE disabled so broadcast decisions are
    explicit exchange nodes (AQE's runtime SMJ→BHJ conversions are fed
    by ACTUAL stage sizes, not estimates, and are safe by definition —
    at real scale the actual size is real). Known blind spot: a frame
    materialized through localCheckpoint/RDD loses its provenance, so
    corpus origins behind an RDDScan are not visible — the iterative
    operators that checkpoint (CC, recursive CTE) bound those frames
    by construction and carry their own plan tests."""
    found: list[tuple[str, set[str]]] = []

    def visit(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "BroadcastExchangeExec":
            bad = _unbounded_corpus_tables(node, corpus)
            if bad:
                found.append((node.simpleString(500), bad))
        if name == "InMemoryTableScanExec":
            try:
                visit(node.relation().cachedPlan())
            except Exception:  # noqa: BLE001
                pass
        for sq in _subqueries(node):
            visit(sq)
        for c in _children(node):
            visit(c)

    visit(df._jdf.queryExecution().executedPlan())
    return found
