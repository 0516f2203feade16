"""Custom Spark DataSource for paginated event-API ingestion (S1-S4).

The reference extracts lending events by POSTing paginated SQL to a
remote HTTP API — `LIMIT {page} OFFSET {n}` pages of 10k rows inside
bounded time windows, fanned out over a thread pool
(`/root/reference/src/pipelines/raw/defi_events.py:59-92`,
`historical_account_positions.py:54-105`). The Spark-native shape is a
Python DataSource (pyspark.sql.datasource, Spark 4): each bounded time
window is an InputPartition, so the fan-out happens on executors —
1000 windows = 1000 parallel fetch tasks with retry handled by the
scheduler, and the result lands directly in DataFrame land (no pandas
staging hop).

The backend is the SINGLE replacement seam, and it is mechanically
injectable: pass ``.option("backend", "your.module:your_fetch")`` and
every InputPartition resolves that function ON THE EXECUTOR (import by
dotted path — the spec string pickles, a closure wouldn't; an optional
``?key=value`` suffix binds keyword args like the endpoint URL at
resolve time). Two backends ship:

- ``fetch_page`` / ``fetch_positions`` (this module): deterministic
  synthetic data, in-process — the hermetic default;
- ``http_backend.fetch_page_http`` / ``fetch_positions_http``: a REAL
  stdlib-urllib HTTP client POSTing like the reference's extractors,
  exercised end-to-end against the loopback ``SyntheticAPIServer``
  (tests/test_http_source.py: offset + keyset pagination, the
  5-attempt retry ladder over injected 500s, and the concurrency
  bound measured by server-side in-flight telemetry). The sandbox has
  no external network; at deployment only the URL changes.
"""

from __future__ import annotations

import hashlib
import importlib
import time
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

PAGE_SIZE = 10_000  # EXTRACTION_PAGINATION_SIZE (`config/settings.toml:21`)
WINDOW_SECONDS = 86_400  # one partition per day of events
# ingestion semantics pinned from the reference (r6 verdict item 7):
MAX_RETRIES = 5  # `historical_market_data.py:19-37` (for i in range(0,5))
MAX_TIMEWINDOW_DAYS = 10  # `config/settings.toml:10` MAX_TIMEWINDOW_DAYS


def fetch_page(
    event: str,
    window_start: int,
    window_end: int,
    offset: int,
    limit: int,
    *,
    per_window: int = 120,
) -> list[dict]:
    """Synthetic stand-in for the remote paginated query. Deterministic
    in (event, window, offset): ~120 events/day, stable ids/wallets.
    ``per_window`` is keyword-only (the seam calls with 5 positionals);
    the loopback HTTP server raises it past PAGE_SIZE to exercise real
    multi-page offset pagination over the wire."""
    total = per_window if window_end - window_start >= WINDOW_SECONDS else 0
    rows = []
    for i in range(offset, min(offset + limit, total)):
        seed = hashlib.md5(f"{event}|{window_start}|{i}".encode()).hexdigest()
        rows.append(
            {
                "block_number": window_start // 12 + i,
                "transaction_hash": "0x" + seed + seed[:32],
                "timestamp": window_start + (i * WINDOW_SECONDS) // per_window,
                "protocol_name": "aave" if int(seed[0], 16) % 2 else "compound",
                "category": event,
                "sender_address": "0x" + seed[:40],
                "quantity": float(int(seed[:8], 16)),
            }
        )
    return rows


DEFAULT_BACKEND = f"{__name__}:fetch_page"


def _resolve_backend(spec: str):
    """Import ``module.path:function`` — called in the executor task so
    the worker process does its own import (cloudpickle would serialize
    a driver-side function by reference anyway; the explicit spec makes
    the seam visible and configurable from SQL/option land).

    An optional query-string suffix binds keyword parameters at resolve
    time — ``module:function?url=http://127.0.0.1:8443`` — which is how
    the real HTTP client (http_backend.py) receives its endpoint: the
    spec is a plain string, so it travels through .option()/SQL and
    into every executor worker without pickling a closure."""
    base, _, qs = spec.partition("?")
    mod_name, _, fn_name = base.partition(":")
    fn = getattr(importlib.import_module(mod_name), fn_name)
    if qs:
        import functools
        from urllib.parse import parse_qsl

        return functools.partial(fn, **dict(parse_qsl(qs)))
    return fn


class _WindowPartition(InputPartition):
    """One fetch task covering a LIST of bounded time windows — a
    single window in the default (max-parallel) layout, several when
    the concurrency bound packs windows per task."""

    def __init__(self, event: str, windows: list[tuple[int, int]]):
        self.event = event
        self.windows = windows


class LendingEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.event = options.get("event", "borrow")
        self.start = int(options["start"])
        self.end = int(options["end"])
        self.backend = options.get("backend", DEFAULT_BACKEND)
        # reference semantics (defaults pinned from config/settings.toml
        # and historical_market_data.py; overridable per read):
        self.max_retries = int(options.get("max_retries", MAX_RETRIES))
        self.retry_backoff = float(options.get("retry_backoff", 0.05))
        self.max_window_days = int(
            options.get("max_window_days", MAX_TIMEWINDOW_DAYS)
        )
        self.allow_truncation = (
            str(options.get("allow_truncation", "false")).lower() == "true"
        )
        self.max_parallel = int(options.get("max_parallel", 0))  # 0 = unbounded

    def clamped_end(self) -> int:
        """MAX_TIMEWINDOW_DAYS clamp: one run ingests at most N days
        past ``start``; later incremental runs (S7 watermark) catch up.
        The reference applies the same bound to every extraction window
        so a backfill can never issue an unbounded remote query."""
        return min(self.end, self.start + self.max_window_days * WINDOW_SECONDS)

    def partitions(self):
        if self.clamped_end() < self.end:
            # The truncation must be IN-BAND, not a driver-side warning
            # a batch caller can miss: a clamped read succeeds only when
            # the caller explicitly acknowledged partial extracts with
            # allow_truncation=true (the S7 watermark re-run loop does —
            # it re-reads from the high watermark until caught up);
            # a one-shot backfill that forgot the clamp fails LOUDLY
            # here instead of shipping 10 of 30 days with a green job
            # status. DIVERGENCE, documented: the reference clamps
            # silently (config/settings.toml MAX_TIMEWINDOW +
            # historical_market_data.py window loop).
            if not self.allow_truncation:
                raise ValueError(
                    f"lending_events_api: requested window [{self.start},"
                    f"{self.end}) exceeds max_window_days="
                    f"{self.max_window_days} and would be truncated at "
                    f"{self.clamped_end()}. Pass allow_truncation=true "
                    "to accept a clamped extract (incremental re-runs "
                    "ingest the remainder), or raise max_window_days."
                )
            import warnings

            warnings.warn(
                f"lending_events_api: requested window [{self.start},"
                f"{self.end}) clamped to {self.max_window_days} days "
                f"(ends {self.clamped_end()}); incremental re-runs "
                "ingest the remainder",
                stacklevel=2,
            )
        windows = [
            (s, min(s + WINDOW_SECONDS, self.clamped_end()))
            for s in range(self.start, self.clamped_end(), WINDOW_SECONDS)
        ]
        if self.max_parallel > 0 and len(windows) > self.max_parallel:
            # concurrency bound (NUMBER_OF_THREADS): at most N fetch
            # tasks exist cluster-wide, each draining its windows
            # sequentially — the scheduler can never exceed the remote
            # API's parallel-call budget however many executors it has
            buckets: list[list[tuple[int, int]]] = [
                [] for _ in range(self.max_parallel)
            ]
            for i, w in enumerate(windows):
                buckets[i % self.max_parallel].append(w)
            return [_WindowPartition(self.event, b) for b in buckets if b]
        return [_WindowPartition(self.event, [w]) for w in windows]

    def _fetch_with_retry(self, fetch, start: int, end: int, offset: int):
        """Retry x``max_retries`` with backoff (the reference retries
        each block fetch 5 times, `historical_market_data.py:19-37`).
        DIVERGENCE, documented: after exhausting retries the reference
        returns None and silently drops the block; here the task
        raises — Spark's own task retry gets a chance, and a
        permanently failing window fails the job LOUDLY instead of
        shipping a silently incomplete extract."""
        last: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                return fetch(self.event, start, end, offset, PAGE_SIZE)
            except Exception as exc:  # noqa: BLE001 — retry any backend error
                last = exc
                if attempt + 1 < self.max_retries:
                    time.sleep(self.retry_backoff * (attempt + 1))
        raise RuntimeError(
            f"fetch failed after {self.max_retries} attempts: "
            f"event={self.event} window=[{start},{end}) offset={offset}"
        ) from last

    def read(self, partition: _WindowPartition) -> Iterator[tuple]:
        fetch = _resolve_backend(self.backend)
        for w_start, w_end in partition.windows:
            offset = 0
            while True:  # keyset/offset pagination inside the window (S1/S3)
                page = self._fetch_with_retry(fetch, w_start, w_end, offset)
                for r in page:
                    yield (
                        r["block_number"],
                        r["transaction_hash"],
                        r["timestamp"],
                        r["protocol_name"],
                        r["category"],
                        r["sender_address"],
                        r["quantity"],
                    )
                if len(page) < PAGE_SIZE:
                    break
                offset += PAGE_SIZE


class LendingEventsAPISource(DataSource):
    """``spark.read.format("lending_events_api")`` — options:
    event, start (epoch s), end (epoch s)."""

    @classmethod
    def name(cls) -> str:
        return "lending_events_api"

    def schema(self) -> str:
        return (
            "block_number long, transaction_hash string, timestamp long,"
            " protocol_name string, category string, sender_address string,"
            " quantity double"
        )

    def reader(self, schema) -> LendingEventsReader:
        return LendingEventsReader(self.options)


# ---------------------------------------------------------------------------
# S2/S3: block-pinned Graph-positions source with KEYSET pagination
# ---------------------------------------------------------------------------

KEYSET_PAGE = 1_000  # the Graph's page cap (`historical_account_positions.py:83`)


def fetch_positions(block_number: int, last_id: str, limit: int) -> list[dict]:
    """Synthetic stand-in for the block-pinned Graph query
    (`historical_account_positions.py:40-106`): positions AT a pinned
    block, keyset-paginated by ``id > last_id`` in id order.
    Deterministic in (block_number, last_id): ~1.7 pages per block so
    the keyset loop is actually exercised."""
    per_block = 1_700
    all_ids = [f"pos-{block_number}-{i:06d}" for i in range(per_block)]
    start = 0
    if last_id:
        # strictly-after semantics of keyset pagination
        import bisect

        start = bisect.bisect_right(all_ids, last_id)
    rows = []
    for pid in all_ids[start : start + limit]:
        seed = hashlib.md5(pid.encode()).hexdigest()
        rows.append(
            {
                "id": pid,
                "account": "0x" + seed[:40],
                "balance": float(int(seed[:8], 16)),
                "side": "BORROWER" if int(seed[8], 16) % 2 else "LENDER",
                "block_number": block_number,
                "protocol": "aave-v2-eth" if int(seed[9], 16) % 2 else "compound-v2-eth",
            }
        )
    return rows


DEFAULT_POSITIONS_BACKEND = f"{__name__}:fetch_positions"


class _BlockPartition(InputPartition):
    def __init__(self, blocks: list[int]):
        self.blocks = blocks


class GraphPositionsReader(DataSourceReader):
    """One fetch task per PINNED BLOCK (the reference queries the
    subgraph's state AT each daily first block — S2), each draining its
    keyset pages sequentially (S3: ``last_id`` cursor, page cap
    ``KEYSET_PAGE``, stop on a short page). ``max_parallel`` packs
    blocks per task exactly like the events reader — the reference
    bounds the same fan-out with ``asyncio.Semaphore(10)``
    (`historical_account_positions.py:138`)."""

    def __init__(self, options: dict):
        self.block_start = int(options["block_start"])
        self.block_end = int(options["block_end"])
        self.block_step = int(options.get("block_step", 7200))
        self.backend = options.get("backend", DEFAULT_POSITIONS_BACKEND)
        self.max_retries = int(options.get("max_retries", MAX_RETRIES))
        self.retry_backoff = float(options.get("retry_backoff", 0.05))
        self.max_parallel = int(options.get("max_parallel", 0))

    def partitions(self):
        blocks = list(range(self.block_start, self.block_end, self.block_step))
        if self.max_parallel > 0 and len(blocks) > self.max_parallel:
            buckets: list[list[int]] = [[] for _ in range(self.max_parallel)]
            for i, b in enumerate(blocks):
                buckets[i % self.max_parallel].append(b)
            return [_BlockPartition(b) for b in buckets if b]
        return [_BlockPartition([b]) for b in blocks]

    def read(self, partition: _BlockPartition) -> Iterator[tuple]:
        fetch = _resolve_backend(self.backend)
        for block in partition.blocks:
            last_id = ""
            while True:  # keyset pagination (S3)
                last: Exception | None = None
                page = None
                for attempt in range(self.max_retries):
                    try:
                        page = fetch(block, last_id, KEYSET_PAGE)
                        break
                    except Exception as exc:  # noqa: BLE001
                        last = exc
                        if attempt + 1 < self.max_retries:
                            time.sleep(self.retry_backoff * (attempt + 1))
                if page is None:
                    raise RuntimeError(
                        f"positions fetch failed after {self.max_retries} "
                        f"attempts: block={block} last_id={last_id!r}"
                    ) from last
                for r in page:
                    yield (
                        r["id"],
                        r["account"],
                        r["balance"],
                        r["side"],
                        r["block_number"],
                        r["protocol"],
                    )
                if len(page) < KEYSET_PAGE:
                    break
                last_id = page[-1]["id"]


class GraphPositionsAPISource(DataSource):
    """``spark.read.format("graph_positions_api")`` — options:
    block_start, block_end, block_step (default 7200 ≈ daily)."""

    @classmethod
    def name(cls) -> str:
        return "graph_positions_api"

    def schema(self) -> str:
        return (
            "id string, account string, balance double, side string,"
            " block_number long, protocol string"
        )

    def reader(self, schema) -> GraphPositionsReader:
        return GraphPositionsReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(LendingEventsAPISource)
    spark.dataSource.register(GraphPositionsAPISource)
