"""REST/JSON-API source (reference S2/S3).

The reference fetches JSON driver-side and builds ``Row`` objects
(`utils.py:34-105`, `ingestion_task.py:28-39`). Same shape here, minus
the inference: records become a DataFrame under an explicit contract.
The HTTP client itself is injected (a callable returning ``list[dict]``)
so the engine has no hard dependency on any service; at real scale a
paged endpoint should be read with a DataSourceV2-style reader instead
(SURVEY.md §4 custom-rule verdict).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class RestApiError(Exception):
    """Raised for token or fetch failures (reference `utils.py:65-105`
    raised bare ``Exception``; a typed error lets pipelines retry)."""


class TokenClient:
    """Bearer-token REST client (reference S2 auth, `utils.py:65-82`):
    POST ``{base_url}/token`` with username/password form data, then GET
    endpoints with ``Authorization: Bearer <token>``.

    Differences from the reference, deliberate:
    - the token is CACHED and refreshed once on a 401 (the reference
      re-POSTs /token before every request — one extra round trip per
      endpoint and a lockout hazard under per-minute auth rate limits);
    - ``transport`` is injectable (anything with requests-compatible
      ``post(url, data=)``/``get(url, headers=)``) so tests and air-gapped
      runs need no HTTP stack; the default imports ``requests`` lazily.

    Driver-side only — feed the result to :func:`rows_from_records`;
    executors never hold credentials.
    """

    def __init__(self, base_url: str, username: str, password: str, transport: Any = None):
        self.base_url = base_url.rstrip("/")
        self._username = username
        self._password = password
        if transport is None:
            try:
                import requests as transport  # type: ignore[no-redef]
            except ImportError as e:  # pragma: no cover
                raise RestApiError(
                    "no transport injected and `requests` is not installed"
                ) from e
        self._transport = transport
        self._token: str | None = None

    def token(self, refresh: bool = False) -> str:
        if self._token is None or refresh:
            resp = self._transport.post(
                f"{self.base_url}/token",
                data={"username": self._username, "password": self._password},
            )
            if resp.status_code != 200:
                raise RestApiError(f"token generation failed: {resp.text}")
            tok = resp.json().get("access_token")
            if not tok:
                raise RestApiError("token not found in response")
            self._token = tok
        return self._token

    def fetch(self, endpoint: str, auth: bool = True) -> Any:
        """GET ``{base_url}/{endpoint}``, returning parsed JSON
        (reference `utils.py:84-105` semantics: 404 is an explicit
        error, non-200 fails loudly)."""
        url = f"{self.base_url}/{endpoint.lstrip('/')}"

        def _get():
            headers = {"Authorization": f"Bearer {self.token()}"} if auth else {}
            return self._transport.get(url, headers=headers)

        resp = _get()
        if auth and resp.status_code == 401:  # stale cached token: refresh once
            self.token(refresh=True)
            resp = _get()
        if resp.status_code == 404:
            raise RestApiError(f"API endpoint {endpoint} not found")
        if resp.status_code != 200:
            raise RestApiError(f"request failed: status {resp.status_code}, {resp.text}")
        try:
            return resp.json()
        except Exception as e:
            raise RestApiError(f"failed to parse JSON: {e}") from e

    def records(self, endpoint: str, auth: bool = True) -> Callable[[], Sequence[dict]]:
        """Lazy record source for :func:`rows_from_records` — the fetch
        happens when the DataFrame is built, not when the pipeline is
        declared."""
        return lambda: self.fetch(endpoint, auth=auth)


def rows_from_records(
    spark: SparkSession,
    records: Sequence[dict] | Callable[[], Sequence[dict]],
    schema: T.StructType,
    normalize_keys: bool = True,
) -> DataFrame:
    """Build a typed DataFrame from driver-side JSON records.

    ``normalize_keys`` applies the same key normalization as
    ``operators.projection.normalize_columns`` (strip/upper/underscores)
    so drifting API payload keys still land on the contract
    (reference behavior at `adhoc_load_sales_20250707_file.py:31-32`).
    """
    data = records() if callable(records) else records
    wanted = schema.fieldNames()
    if normalize_keys:
        # match on the NORMALIZED form of both sides, emit the schema's
        # exact field names — a lower/mixed-case contract would otherwise
        # silently null every value
        norm = lambda k: k.strip().upper().replace(" ", "_")  # noqa: E731
        data = [{norm(k): v for k, v in rec.items()} for rec in data]
        data = [{k: rec.get(norm(k)) for k in wanted} for rec in data]
    else:
        data = [{k: rec.get(k) for k in wanted} for rec in data]
    # the classic pickled-row path, not core.frames.local_frame: this is
    # external JSON, and callers rely on its row-level type errors (a
    # string in a numeric field names the field and the value)
    return spark.createDataFrame(data, schema=schema)
