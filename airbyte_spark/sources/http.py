"""HTTP API stream source — pagination, backoff, rate limiting.

Reference semantics: ``HttpStream`` drives a paginated API read — build
request, parse records out of the response, compute the next-page token,
stop when exhausted — with exponential backoff on retryable statuses and a
rate budget between calls (airbyte-cdk/python/airbyte_cdk/sources/streams/
http/http.py:34 class HttpStream; rate limiting call_rate.py:375
``APIBudget``; declarative pagination
declarative/requesters/paginators/).

Spark-first split: the pagination LOOP is inherently sequential driver-side
work (each page's token comes from the previous response — the reference is
identical), so only the *record batches* enter Spark: pages accumulate into
one ``createDataFrame`` per sync (or per N pages), and everything after
that is the engine's normal columnar path. The transport is injected (any
``callable(method, url, params, headers) -> (status, json_body)``), which
keeps the machinery fully testable offline and decouples it from a
specific HTTP client.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field, replace
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from airbyte_spark.lineage import log_metric

Transport = Callable[..., tuple[int, Any]]

RETRYABLE_STATUSES = {429, 500, 502, 503, 504}


def _retry_after_s(headers: Any) -> float | None:
    """Seconds to wait from a Retry-After response header (delta-seconds
    form only; HTTP-date is a server nicety no rate limiter we target
    uses). Case-insensitive lookup; None when absent/unparseable."""
    if not headers:
        return None
    for k, v in dict(headers).items():
        if str(k).lower() == "retry-after":
            try:
                return max(0.0, float(v))
            except (TypeError, ValueError):
                return None
    return None


@dataclass
class DatetimeSlicer:
    """Interval-sliced incremental window generator.

    Reference semantics: ``DatetimeBasedCursor`` (airbyte-cdk/python/
    airbyte_cdk/sources/declarative/incremental/datetime_based_cursor.py)
    slices a ``[start, end)`` datetime range into fixed ``step`` windows,
    injects each window's bounds as request params, and checkpoints state
    per slice so a killed sync resumes at the first incomplete window
    rather than the range start.

    Times are epoch seconds; ``fmt`` renders a bound into whatever the API
    expects (ISO string, millis, ...). ``end=None`` freezes ``clock()`` at
    iteration start — matching the reference's "now" anchor so a slow sync
    does not chase a moving end. ``lookback_s`` re-opens that much of the
    last completed window on resume (late-data re-delivery; downstream LWW
    dedup absorbs the duplicates, exactly like the reference's
    inclusive-cursor rule).
    """

    start: float
    step_s: float
    end: float | None = None
    start_param: str = "start_time"
    end_param: str = "end_time"
    lookback_s: float = 0.0
    clock: Callable[[], float] = time.time
    fmt: Callable[[float], Any] = lambda t: t

    def slices(self, state: float | None = None) -> Iterator[tuple[float, float]]:
        """Yield ``(slice_start, slice_end)`` windows, resuming from
        ``state`` (epoch of the last fully-committed slice end)."""
        lo = self.start if state is None else max(self.start, state - self.lookback_s)
        hi = self.end if self.end is not None else self.clock()
        t = lo
        while t < hi:
            yield t, min(t + self.step_s, hi)
            t += self.step_s


@dataclass
class Paginator:
    """Next-page strategy (the declarative paginator collapsed to data).

    - kind="offset": request param ``param`` = running record offset.
    - kind="page":   request param ``param`` = page number (from 1).
    - kind="cursor": request param ``param`` = token found at
      ``token_field`` of the previous response body (stop when absent).

    ``inject_into`` places the pagination values per the reference's
    RequestOption (declarative/requesters/request_option.py: request
    parameter / header / body_json): "param" (default, query string),
    "body" (request JSON body — the GraphQL/search-endpoint pattern), or
    "header". The page-size value travels with it.
    """

    kind: str = "offset"
    param: str = "offset"
    page_size: int = 100
    size_param: str | None = "limit"
    token_field: str = "next_page_token"
    inject_into: str = "param"  # "param" | "body" | "header"


#: sentinel returned by ``_call`` for an IGNOREd response — extracts to
#: zero records and (being a short page / token-less body) ends its
#: scope's pagination, matching the reference's empty-record-set mapping.
_IGNORED = object()


@dataclass(frozen=True)
class ErrorHandler:
    """Declarative response-filter policy — the reference's
    ``DefaultErrorHandler`` + ``HttpResponseFilter`` (airbyte-cdk/python/
    airbyte_cdk/sources/declarative/requesters/error_handlers/
    default_error_handler.py:105-142 filter chain;
    http_response_filter.py:22-78 action by status / body match;
    backoff_strategies/ constant + exponential): classify each response
    into FAIL / IGNORE / RETRY / OK with a configurable backoff.

    Precedence per response: ``fail_on_status`` > ``ignore_on_status`` >
    retry (status in ``retry_on_status``, or the rendered body containing
    ``retry_on_body_contains`` — the 200-with-error-envelope pattern some
    APIs use for rate limits). An IGNOREd response contributes zero
    records and ends its scope's pagination; a 401 still goes through the
    authenticator's refresh-once path before this policy applies.
    """

    retry_on_status: tuple[int, ...] = (429, 500, 502, 503, 504)
    ignore_on_status: tuple[int, ...] = ()
    fail_on_status: tuple[int, ...] = ()
    retry_on_body_contains: str | None = None
    max_retries: int = 5
    backoff: str = "exponential"  # or "constant"
    backoff_base_s: float = 0.1

    def classify(self, status: int, body: Any) -> str:
        if status in self.fail_on_status:
            return "fail"
        if status in self.ignore_on_status:
            return "ignore"
        if self.retry_on_body_contains is not None:
            text = body if isinstance(body, str) else json.dumps(body, default=str)
            if self.retry_on_body_contains in text:
                return "retry"
        if status < 400:
            return "ok"
        return "retry" if status in self.retry_on_status else "fail"

    def delay_s(self, attempt: int) -> float:
        if self.backoff == "constant":
            return self.backoff_base_s
        return self.backoff_base_s * (2**attempt)


class CachingTransport:
    """Request memo for re-read-heavy streams — the reference's
    ``HttpStream.use_cache`` (sources/streams/http/http.py:34-90,
    requests-cache-backed session) re-expressed as a transport wrapper:
    ``(method, url, params, body) -> response`` memoized for the wrapper's
    lifetime (one sync), so a parent stream re-read by every child
    substream costs ONE live round-trip per page.

    Headers are excluded from the key (requests-cache default) so auth
    refresh/rotation never fragments the cache; only 2xx responses are
    memoized (errors and retryable statuses always go live). Thread-safe
    for the prefetch pool; ``hits``/``live_calls`` are observable for
    tests and metrics.
    """

    #: default memo bound — parent streams are small by design (the whole
    #: point of use_cache is re-reading a SMALL parent per child); a huge
    #: cached stream must not balloon the driver, so beyond the cap the
    #: OLDEST page is evicted FIFO (the reference's requests-cache is
    #: disk-backed sqlite and needs no bound; this memo is in-memory)
    MAX_ENTRIES = 10_000

    def __init__(self, transport: Transport, max_entries: int | None = None):
        self.transport = transport
        self.live_calls = 0
        self.hits = 0
        self.evictions = 0
        self.max_entries = self.MAX_ENTRIES if max_entries is None else int(max_entries)
        self._memo: dict[tuple, Any] = {}  # insertion-ordered (py3.7+): FIFO
        self._lock = threading.Lock()

    @staticmethod
    def _key(method: str, url: str, params: Any, body: Any) -> tuple:
        return (
            method,
            url,
            json.dumps(params or {}, sort_keys=True, default=str),
            json.dumps(body or {}, sort_keys=True, default=str),
        )

    def __call__(self, method, url, params=None, headers=None, body=None):
        key = self._key(method, url, params, body)
        with self._lock:
            if key in self._memo:
                self.hits += 1
                return self._memo[key]
        kw: dict[str, Any] = {"params": params, "headers": headers}
        if body is not None:
            kw["body"] = body
        resp = self.transport(method, url, **kw)
        with self._lock:
            self.live_calls += 1
            if resp[0] < 300:
                while len(self._memo) >= self.max_entries:
                    self._memo.pop(next(iter(self._memo)))
                    self.evictions += 1
                self._memo[key] = resp
        return resp


@dataclass
class HttpStreamSource:
    transport: Transport
    url: str
    params: dict[str, Any] = field(default_factory=dict)
    headers: dict[str, str] = field(default_factory=dict)
    records_field: str | None = "data"  # None -> body IS the record list
    paginator: Paginator = field(default_factory=Paginator)
    max_retries: int = 5
    backoff_base_s: float = 0.1  # doubles per attempt (exponential)
    min_call_interval_s: float = 0.0  # APIBudget analog
    sleep: Callable[[float], None] = time.sleep  # injectable for tests
    authenticator: Any = None  # object with auth_header() (sources/auth.py)
    prefetch_pages: int = 0  # >1 -> concurrent lookahead for offset/page kinds
    error_handler: ErrorHandler | None = None  # None -> legacy default policy
    # per-endpoint rate policies (sources/call_rate.py APIBudget) — acquired
    # before every transport call; response headers feed back via
    # HttpAPIBudget. Composes with (does not replace) min_call_interval_s.
    api_budget: Any = None
    http_method: str = "GET"
    body_json: dict[str, Any] = field(default_factory=dict)  # request body template
    # "json" (default: body is parsed JSON, records under records_field) or
    # "jsonl" (body is TEXT, one JSON record per line — bulk-export APIs;
    # the reference's declarative decoders: decoders/json_decoder.py
    # JsonDecoder/JsonlDecoder). Cursor pagination needs a dict body, so
    # jsonl pairs with offset/page paginators.
    decoder: str = "json"

    _rate_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )
    _last_call: float = field(default=0.0, repr=False, compare=False)

    def _rate_wait(self) -> None:
        """Serialize the APIBudget interval across callers — with concurrent
        prefetch multiple threads share one budget, so the lock makes the
        politeness guarantee identical to the sequential path."""
        if self.min_call_interval_s <= 0:
            return
        with self._rate_lock:
            wait = self.min_call_interval_s - (time.monotonic() - self._last_call)
            if wait > 0:
                self.sleep(wait)
            self._last_call = time.monotonic()

    def _call(
        self,
        params: dict[str, Any],
        body: dict[str, Any] | None = None,
        extra_headers: dict[str, str] | None = None,
    ) -> Any:
        """One request with exponential backoff on retryable statuses
        (HttpStream.should_retry/backoff_time semantics). The auth header is
        evaluated PER REQUEST so a token expiring mid-pagination refreshes
        transparently; a 401 invalidates the cached token and retries once
        (server-side revocation -> one forced refresh, not a hard failure).

        ``body`` is passed to the transport as a ``body=`` kwarg ONLY when
        non-empty, so existing 4-argument transports keep working for every
        GET/params source; a POST-body API's transport accepts the kwarg."""
        attempt = 0
        auth_retried = False
        while True:
            headers = dict(self.headers)
            if extra_headers:
                headers.update(extra_headers)
            if self.authenticator is not None:
                headers.update(self.authenticator.auth_header())
            self._rate_wait()
            req_desc = {
                "method": self.http_method, "url": self.url,
                "params": params, "headers": headers,
            }
            if self.api_budget is not None:
                self.api_budget.acquire_call(req_desc)
            kw: dict[str, Any] = {"params": params, "headers": headers}
            if body:
                kw["body"] = body
            resp = self.transport(self.http_method, self.url, **kw)
            # transports return (status, body) or (status, body, headers) —
            # the 3-tuple form lets rate-limited APIs drive the backoff via
            # Retry-After (DefaultBackoffStrategy honors it likewise)
            # NOT unpacked into ``body`` — that name is the REQUEST body
            # parameter, which must survive retries unchanged
            status, resp_body = resp[0], resp[1]
            resp_headers = resp[2] if len(resp) > 2 else {}
            if self.api_budget is not None:
                # server rate-limit headers feed availability back into the
                # matching policy (HttpAPIBudget; no-op on the base budget)
                self.api_budget.update_from_response(req_desc, status, resp_headers)
            eh = self.error_handler
            if eh is not None:
                action = eh.classify(status, resp_body)
            else:  # legacy default policy, unchanged
                action = (
                    "ok"
                    if status < 400
                    else ("retry" if status in RETRYABLE_STATUSES else "fail")
                )
            if action == "ok":
                return resp_body
            if (
                status == 401
                and not auth_retried
                and self.authenticator is not None
                and hasattr(self.authenticator, "invalidate")
            ):
                # refresh-once precedence over any filter verdict: a revoked
                # token must get its one transparent refresh before the
                # response policy decides anything
                self.authenticator.invalidate()
                auth_retried = True
                log_metric("http_auth_retry", url=self.url)
                continue
            if action == "ignore":
                log_metric("http_response_ignored", url=self.url, status=status)
                return _IGNORED
            max_r = eh.max_retries if eh is not None else self.max_retries
            if action == "retry" and attempt < max_r:
                delay = (
                    eh.delay_s(attempt)
                    if eh is not None
                    else self.backoff_base_s * (2**attempt)
                )
                retry_after = _retry_after_s(resp_headers)
                if retry_after is not None:
                    # the server's explicit wait wins over our exponential
                    # guess (a 429 that says "60" must not be retried in 0.1)
                    delay = max(delay, retry_after)
                log_metric(
                    "http_retry", url=self.url, status=status,
                    attempt=attempt + 1, backoff_s=round(delay, 3),
                )
                self.sleep(delay)
                attempt += 1
                continue
            raise RuntimeError(f"HTTP {status} from {self.url} after {attempt} retries")

    def _extract(self, body: Any) -> list[dict]:
        if body is _IGNORED:
            return []
        if self.decoder == "jsonl":
            if not body:
                return []
            if not isinstance(body, str):
                raise ValueError("jsonl decoder expects a text response body")
            return [json.loads(ln) for ln in body.splitlines() if ln.strip()]
        recs = body if self.records_field is None else body.get(self.records_field, [])
        if recs is None:
            return []
        return list(recs)

    def read_records(self, max_pages: int | None = None) -> Iterator[dict]:
        """The pagination loop (HttpStream.read_records): request ->
        extract -> next_page_token -> repeat until exhausted.

        With ``prefetch_pages > 1`` and an offset/page paginator the loop
        switches to a bounded concurrent lookahead (the reference's
        concurrent source, concurrent_source.py:74-146): page k+1 is being
        fetched while page k parses. Records are yielded in exact
        sequential order; cursor pagination stays sequential because each
        page's token comes from the previous response."""
        pg = self.paginator
        if self.prefetch_pages > 1 and pg.kind in ("offset", "page"):
            yield from self._read_records_prefetch(max_pages)
            return
        offset = 0
        page_no = 1
        cursor_token: Any = None
        pages = 0
        while True:
            params, req_body, hdrs = dict(self.params), dict(self.body_json), {}
            if pg.size_param:
                self._inject(params, req_body, hdrs, pg.size_param, pg.page_size)
            if pg.kind == "offset":
                self._inject(params, req_body, hdrs, pg.param, offset)
            elif pg.kind == "page":
                self._inject(params, req_body, hdrs, pg.param, page_no)
            elif pg.kind == "cursor":
                if cursor_token is not None:
                    self._inject(params, req_body, hdrs, pg.param, cursor_token)
            else:
                raise ValueError(f"unknown paginator kind {pg.kind!r}")

            resp = self._call(params, body=req_body, extra_headers=hdrs)
            recs = self._extract(resp)
            yield from recs
            pages += 1
            offset += len(recs)
            page_no += 1
            cursor_token = (
                resp.get(self.paginator.token_field)
                if isinstance(resp, dict)
                else None
            )
            exhausted = (
                len(recs) < pg.page_size
                if pg.kind in ("offset", "page")
                else cursor_token is None
            )
            if exhausted or (max_pages is not None and pages >= max_pages):
                log_metric("http_stream_done", url=self.url, pages=pages)
                return

    def _inject(
        self,
        params: dict[str, Any],
        body: dict[str, Any],
        headers: dict[str, str],
        key: str,
        value: Any,
    ) -> None:
        """Place a pagination value per ``paginator.inject_into`` — the
        RequestOption target (request parameter / body_json / header)."""
        tgt = self.paginator.inject_into
        if tgt == "param":
            params[key] = value
        elif tgt == "body":
            body[key] = value
        elif tgt == "header":
            headers[key] = str(value)
        else:
            raise ValueError(f"unknown inject_into {tgt!r}")

    def _page_request(
        self, page_index: int
    ) -> tuple[dict[str, Any], dict[str, Any], dict[str, str]]:
        """(params, body, headers) for 0-based ``page_index`` under an
        offset/page paginator. Valid because the sequential loop only
        continues past a page when it was FULL (len == page_size), so the
        running offset for any continuing page is always exactly
        index * page_size."""
        pg = self.paginator
        params, body, hdrs = dict(self.params), dict(self.body_json), {}
        if pg.size_param:
            self._inject(params, body, hdrs, pg.size_param, pg.page_size)
        if pg.kind == "offset":
            self._inject(params, body, hdrs, pg.param, page_index * pg.page_size)
        else:
            self._inject(params, body, hdrs, pg.param, page_index + 1)
        return params, body, hdrs

    def _read_records_prefetch(self, max_pages: int | None) -> Iterator[dict]:
        """Bounded concurrent lookahead: keep up to ``prefetch_pages``
        requests in flight, yield strictly in page order, stop at the first
        short page (the sequential stop rule). At most prefetch_pages - 1
        requests past the final page are issued — the price of overlap."""
        from concurrent.futures import ThreadPoolExecutor

        pg = self.paginator
        futures: dict[int, Any] = {}
        with ThreadPoolExecutor(max_workers=self.prefetch_pages) as ex:
            next_submit = 0
            next_yield = 0
            pages = 0
            while True:
                while len(futures) < self.prefetch_pages and (
                    max_pages is None or next_submit < max_pages
                ):
                    p, b, h = self._page_request(next_submit)
                    futures[next_submit] = ex.submit(self._call, p, b, h)
                    next_submit += 1
                if next_yield not in futures:
                    break  # max_pages reached
                recs = self._extract(futures.pop(next_yield).result())
                yield from recs
                next_yield += 1
                pages += 1
                if len(recs) < pg.page_size:
                    break
            for f in futures.values():
                f.cancel()
        log_metric(
            "http_stream_done", url=self.url, pages=pages, prefetch=self.prefetch_pages
        )

    def read_datetime_sliced(
        self,
        slicer: DatetimeSlicer,
        state: float | None = None,
        max_pages_per_slice: int | None = None,
    ) -> Iterator[tuple[dict[str, Any], list[dict]]]:
        """Interval-sliced incremental read (DatetimeBasedCursor semantics):
        for each ``[slice_start, slice_end)`` window not yet covered by
        ``state``, inject the bounds as request params, read the slice's
        pages, and yield ``(state_doc, records)``. The caller commits the
        records and THEN checkpoints ``state_doc["slice_end_epoch"]`` — so a
        sync killed mid-range resumes at the first incomplete window with no
        lost records (and none duplicated when lookback_s == 0)."""
        for s, e in slicer.slices(state=state):
            params = dict(self.params)
            params[slicer.start_param] = slicer.fmt(s)
            params[slicer.end_param] = slicer.fmt(e)
            src = replace(self, params=params)
            records = list(src.read_records(max_pages=max_pages_per_slice))
            log_metric(
                "http_slice_done",
                url=self.url,
                slice_start=s,
                slice_end=e,
                records=len(records),
            )
            yield {"slice_start_epoch": s, "slice_end_epoch": e}, records

    def read_full_refresh_resumable(
        self,
        state: dict[str, Any] | None = None,
        pages_per_checkpoint: int = 1,
        max_pages: int | None = None,
    ) -> Iterator[tuple[dict[str, Any], list[dict]]]:
        """Resumable full refresh (the reference's RFR semantics: full-
        refresh streams checkpoint their page cursor so an interrupted
        refresh resumes mid-stream instead of restarting — the CDK's
        checkpoint-reader path over `http.py:34` HttpStream pagination).

        Yields ``(state_doc, records)`` every ``pages_per_checkpoint``
        pages; the caller persists the records and THEN checkpoints the
        state doc. A sync killed between checkpoints re-reads at most the
        un-checkpointed pages — page-granular at-least-once, absorbed by
        the destination's PK dedup exactly like the inclusive-cursor rule.
        The final yield carries ``{"complete": True}``: the next sync must
        start over from page 0 (a finished full refresh never resumes).
        Resume state is ``next_page_index`` for offset/page paginators and
        ``next_page_token`` for cursor paginators. Honest scope (same as
        the reference): page-boundary resume assumes the source serves a
        stable ordering across the interruption; drift shows up as
        missing/duplicate rows at the resume seam and is why RFR
        destinations still dedup."""
        pg = self.paginator
        page_index = 0
        token: Any = None
        if state and not state.get("complete"):
            page_index = int(state.get("next_page_index", 0))
            token = state.get("next_page_token")
        pages = 0
        buf: list[dict] = []
        while True:
            if pg.kind in ("offset", "page"):
                params, req_body, hdrs = self._page_request(page_index)
            elif pg.kind == "cursor":
                params, req_body, hdrs = dict(self.params), dict(self.body_json), {}
                if pg.size_param:
                    self._inject(params, req_body, hdrs, pg.size_param, pg.page_size)
                if token is not None:
                    self._inject(params, req_body, hdrs, pg.param, token)
            else:
                raise ValueError(f"unknown paginator kind {pg.kind!r}")
            resp = self._call(params, body=req_body, extra_headers=hdrs)
            recs = self._extract(resp)
            buf.extend(recs)
            pages += 1
            page_index += 1
            token = resp.get(pg.token_field) if isinstance(resp, dict) else None
            exhausted = (
                len(recs) < pg.page_size
                if pg.kind in ("offset", "page")
                else token is None
            )
            if exhausted:
                log_metric(
                    "http_full_refresh_done", url=self.url, pages=pages
                )
                yield {"complete": True}, buf
                return
            hit_max = max_pages is not None and pages >= max_pages
            if pages % pages_per_checkpoint == 0 or hit_max:
                st: dict[str, Any] = (
                    {"next_page_index": page_index}
                    if pg.kind in ("offset", "page")
                    else {"next_page_token": token}
                )
                yield st, buf
                buf = []
            if hit_max:
                return

    def to_dataframe(
        self,
        spark: SparkSession,
        schema,
        max_pages: int | None = None,
        pages_per_chunk: int | None = None,
    ) -> DataFrame:
        """Materialize the paginated read as a typed DataFrame — the
        boundary where the sequential API loop hands off to the columnar
        engine (bootstrap seed or declarative-transform input).

        ``pages_per_chunk`` bounds driver memory: every N pages the
        accumulated rows are handed to ``createDataFrame`` (which ships them
        to executors) and unioned, so the driver never holds more than one
        chunk of raw records at a time."""
        if pages_per_chunk is None:
            rows = list(self.read_records(max_pages=max_pages))
            return spark.createDataFrame(rows, schema)
        chunk_rows_target = pages_per_chunk * self.paginator.page_size
        out: DataFrame | None = None
        buf: list[dict] = []
        for rec in self.read_records(max_pages=max_pages):
            buf.append(rec)
            if len(buf) >= chunk_rows_target:
                df = spark.createDataFrame(buf, schema)
                out = df if out is None else out.unionByName(df)
                buf = []
        if buf or out is None:
            df = spark.createDataFrame(buf, schema)
            out = df if out is None else out.unionByName(df)
        return out

    def read_incremental(
        self,
        cursor_field: str,
        state: Any = None,
        cursor_param: str = "since",
        max_pages: int | None = None,
    ) -> tuple[list[dict], Any]:
        """Incremental API read (HttpStream + IncrementalMixin semantics:
        streams/core.py:127-176 read_incremental; inclusive-cursor rule
        incremental-append-deduped.md:108-112): inject the checkpointed
        cursor as a request param, stream the pages, track the running max
        cursor. Returns (records, new_state). The INCLUSIVE >= comparison
        means boundary records can be re-delivered — downstream LWW dedup
        absorbs them, exactly like the reference."""
        params = dict(self.params)
        if state is not None:
            params[cursor_param] = state
        src = replace(self, params=params)
        records = []
        new_state = state
        for rec in src.read_records(max_pages=max_pages):
            records.append(rec)
            cur = rec.get(cursor_field)
            if cur is not None and (new_state is None or cur > new_state):
                new_state = cur
        return records, new_state
