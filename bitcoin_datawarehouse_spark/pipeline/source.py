"""Batch source adapters.

Reference parity (SURVEY.md §2.1): the reference's only source is the
Dune Analytics REST API — submit (``dune_extractor.py:44-67``), then
poll ``execution/{id}/results`` until COMPLETED/FAILED with a
5-second interval and a wall-clock timeout (``:69-107``), returning
``data['result']['rows']`` as ``List[Dict]``.

The engine keeps that contract behind a ``Source`` interface whose
semantics are testable without a network: ``execute(query_id,
parameters) -> execution_id`` and ``poll(execution_id) -> rows``.
``RestPollingSource`` preserves the reference's state machine
(PENDING → COMPLETED | FAILED, TimeoutError after ``max_wait_time``,
RuntimeError on failure — ``dune_extractor.py:85-86,100-103``) against
any callable transport, so the real HTTPS transport is one lambda away
and tests inject a scripted one.

All of this is driver-side by design — the *result* becomes an
Arrow-backed local DataFrame via ``rows_to_df`` (one LocalTableScan,
no pickled Python slices; the merge's shuffle spreads it); the remote
engine has already done the heavy filtering (the reference pushes the
watermark parameter into the query, ``dune_extractor.py:57-59``), so
rows arriving here are "the new batch", small relative to the
warehouse.
"""

from __future__ import annotations

import time
from typing import Any, Callable, Protocol

from pyspark.sql import DataFrame, SparkSession

from bitcoin_datawarehouse_spark.pipeline.schema import rows_to_df

Rows = list[dict[str, Any]]


class Source(Protocol):
    def execute(self, query_id: int, parameters: str | None = None) -> str: ...

    def poll(self, execution_id: str) -> Rows: ...


class QueryState:
    """Remote execution states (reference dune_extractor.py:94-103)."""

    COMPLETED = "QUERY_STATE_COMPLETED"
    FAILED = "QUERY_STATE_FAILED"
    PENDING = "QUERY_STATE_PENDING"


class RestPollingSource:
    """Execute-then-poll source with the reference's timing contract.

    ``transport(method, path, body)`` abstracts the HTTP layer; it
    must return the decoded JSON dict.  ``parameters`` is injected as
    ``{"query_parameters": {"date": value}}`` exactly like the
    reference (dune_extractor.py:57-59).
    """

    def __init__(
        self,
        transport: Callable[[str, str, dict | None], dict],
        poll_interval: float = 5.0,
        max_wait_time: float = 300.0,
        sleep: Callable[[float], None] = time.sleep,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.transport = transport
        self.poll_interval = poll_interval
        self.max_wait_time = max_wait_time
        self._sleep = sleep
        self._clock = clock

    def execute(self, query_id: int, parameters: str | None = None) -> str:
        body = None
        if parameters is not None:
            body = {"query_parameters": {"date": parameters}}
        resp = self.transport("POST", f"query/{query_id}/execute", body)
        return resp["execution_id"]

    def poll(self, execution_id: str) -> Rows:
        deadline = self._clock() + self.max_wait_time
        while True:
            resp = self.transport(
                "GET", f"execution/{execution_id}/results", None
            )
            state = resp.get("state", QueryState.PENDING)
            if state == QueryState.COMPLETED:
                return resp["result"]["rows"]
            if state == QueryState.FAILED:
                raise RuntimeError(
                    f"remote query failed: {resp.get('error', state)}"
                )
            if self._clock() >= deadline:
                raise TimeoutError(
                    f"query {execution_id} exceeded {self.max_wait_time}s"
                )
            self._sleep(self.poll_interval)

    def fetch(
        self, query_id: int, parameters: str | None = None
    ) -> Rows:
        """execute + poll, the reference's ``DuneToPgWorker.fetch``
        composition (dune_to_pg_worker.py:29-65)."""
        return self.poll(self.execute(query_id, parameters))


def http_transport(
    base_url: str,
    api_key: str | None = None,
    api_key_header: str = "X-Dune-API-Key",
    timeout: float = 30.0,
) -> Callable[[str, str, dict | None], dict]:
    """The real HTTP transport for :class:`RestPollingSource` — the
    "one lambda" the module docstring promises, now code.  Built on
    the public ``requests`` package (import-gated: the engine works
    without it; only this factory needs it).  The default auth header
    matches the reference's public Dune REST API
    (``dune_extractor.py:36-42``); both are overridable for any other
    execute-then-poll REST service.
    """
    try:
        import requests
    except ImportError as e:  # pragma: no cover - requests is public
        raise ImportError(
            "http_transport needs the public 'requests' package; "
            "inject a custom transport callable instead if it is "
            "unavailable"
        ) from e

    session = requests.Session()
    if api_key:
        session.headers[api_key_header] = api_key
    base = base_url.rstrip("/")

    def transport(method: str, path: str, body: dict | None) -> dict:
        resp = session.request(
            method, f"{base}/{path}", json=body, timeout=timeout
        )
        resp.raise_for_status()
        return resp.json()

    return transport


def rest_source_from_env(
    env: Any = None, **kwargs: Any
) -> RestPollingSource | None:
    """Env-gated deployable constructor: returns a live
    :class:`RestPollingSource` when ``BDS_API_BASE_URL`` is set
    (``BDS_API_KEY`` / ``BDS_API_KEY_HEADER`` optional), else None —
    callers fall back to :class:`FileReplaySource` for offline runs.
    ``kwargs`` pass through to ``RestPollingSource`` (poll timing).
    """
    import os

    env = os.environ if env is None else env
    base_url = env.get("BDS_API_BASE_URL")
    if not base_url:
        return None
    return RestPollingSource(
        http_transport(
            base_url,
            api_key=env.get("BDS_API_KEY"),
            api_key_header=env.get(
                "BDS_API_KEY_HEADER", "X-Dune-API-Key"
            ),
        ),
        **kwargs,
    )


class StaticSource:
    """In-memory source for tests and local fixtures: a dict of
    query_id → (parameters → rows) callables or plain row lists."""

    def __init__(
        self, data: dict[int, Rows | Callable[[str | None], Rows]]
    ) -> None:
        self.data = data
        self.calls: list[tuple[int, str | None]] = []

    def execute(self, query_id: int, parameters: str | None = None) -> str:
        self.calls.append((query_id, parameters))
        return f"{query_id}:{parameters}"

    def poll(self, execution_id: str) -> Rows:
        qid_s, _, params = execution_id.partition(":")
        item = self.data[int(qid_s)]
        if callable(item):
            return item(params if params != "None" else None)
        return item

    def fetch(self, query_id: int, parameters: str | None = None) -> Rows:
        return self.poll(self.execute(query_id, parameters))


class FileReplaySource:
    """Replay source: responses recorded on disk in the remote API's
    JSON shape ``{"result": {"rows": [...]}}`` (one file per query_id,
    ``{query_id}.json``), optionally parameter-filtered.

    This is the engine's offline stand-in for the REST source — the
    same fetch contract, no network: useful for reproducible backfills
    and tests, and the natural target for recording live responses.
    ``param_column``: when a watermark parameter is passed, rows whose
    value in this column is > the parameter are returned (mirroring
    the remote query's lower-bound filter, reference
    dune_extractor.py:57-59).
    """

    def __init__(self, root: str, param_column: str | None = None) -> None:
        self.root = root
        self.param_column = param_column

    def fetch(self, query_id: int, parameters: str | None = None) -> Rows:
        import json
        from pathlib import Path

        path = Path(self.root) / f"{query_id}.json"
        doc = json.loads(path.read_text())
        rows: Rows = doc["result"]["rows"]
        if parameters is not None and self.param_column:
            rows = [
                r
                for r in rows
                if r.get(self.param_column) is not None
                and _newer(r[self.param_column], parameters)
            ]
        return rows

    # Source protocol (execute/poll) for symmetry with the REST source
    def execute(self, query_id: int, parameters: str | None = None) -> str:
        return f"{query_id}\n{parameters}"

    def poll(self, execution_id: str) -> Rows:
        qid, _, params = execution_id.partition("\n")
        return self.fetch(int(qid), None if params == "None" else params)


def _newer(row_value: Any, watermark: str) -> bool:
    """Typed watermark comparison.

    The pipeline serializes the watermark as ``str(MAX(col))``, so a
    bare string compare is only correct for string columns whose text
    order matches their value order (ISO dates).  Numeric columns must
    compare numerically — lexicographically, ``"10" > "9"`` is False
    and an integer watermark (block height, id) would silently stop
    every future sync.  Numeric row values therefore parse the
    watermark back to float; everything else compares as text (ISO
    timestamps included — replay files must use the same text format
    the column's ``str()`` produces).
    """
    if isinstance(row_value, bool):
        return False
    if isinstance(row_value, (int, float)):
        try:
            return float(row_value) > float(watermark)
        except ValueError:
            return False
    return str(row_value) > watermark


def fetch_as_df(
    spark: SparkSession,
    source: Any,
    query_id: int,
    parameters: str | None = None,
) -> DataFrame | None:
    """Source rows → typed DataFrame; None on empty batch (the
    reference's short-circuit, dune_to_pg_worker.py:87-89)."""
    rows = source.fetch(query_id, parameters)
    if not rows:
        return None
    return rows_to_df(spark, rows)
