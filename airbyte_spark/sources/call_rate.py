"""API call-rate budgets: request-matched rate policies for HTTP sources.

Reference parity (rosecape/airbyte `airbyte-cdk/python/airbyte_cdk/sources/
streams/call_rate.py:32-523`): connectors declare PER-ENDPOINT rate
policies — "60 calls/min on /search, unlimited on /meta" — and every
request acquires from the first matching policy before it is sent, with
server rate-limit headers feeding availability back into the budget.

Re-implemented from scratch on the repo's transport abstraction (requests
are plain dicts — method/url/params/headers — not `requests` objects):

- ``Rate(limit, interval_s)``.
- ``HttpRequestMatcher``: method equality, url prefix, params/headers
  subset containment (`HttpRequestMatcher._match_dict` semantics).
- ``UnlimitedPolicy`` — matches but never limits (the reference's
  "API has strict limits on A and B, everything else free" pattern,
  UnlimitedCallRatePolicy docstring).
- ``FixedWindowPolicy`` — N calls per aligned window; the window state
  can be OVERWRITTEN by server headers via ``update()`` (the reference's
  FixedWindowCallRatePolicy: X-RateLimit-Remaining / -Reset own the
  truth once observed).
- ``MovingWindowPolicy`` — sliding-window rates over a timestamp log
  (MovingWindowCallRatePolicy; multiple Rates compose, the tightest
  wait wins).
- ``APIBudget`` — first-matching-policy dispatch; blocking acquire
  sleeps out the advised wait (bounded by ``timeout``), non-blocking
  raises ``CallRateLimitHit`` with the wait attached.
- ``HttpAPIBudget`` — update_from_response reads the standard
  rate-limit headers into the matching policy.

Clock and sleep are injectable, so policies are fully testable offline —
the same discipline as the sources themselves. ``HttpStreamSource``
accepts ``api_budget=`` and acquires before every transport call
(composing with, not replacing, the simple ``min_call_interval_s``
politeness knob).
"""

from __future__ import annotations

import threading
import time
from collections import deque
from dataclasses import dataclass
from typing import Any, Callable


@dataclass(frozen=True)
class Rate:
    limit: int
    interval_s: float


class CallRateLimitHit(Exception):
    def __init__(self, error: str, time_to_wait_s: float):
        super().__init__(f"{error} (retry in {time_to_wait_s:.3f}s)")
        self.time_to_wait_s = time_to_wait_s


class HttpRequestMatcher:
    """Match request dicts by method equality, url prefix, and
    params/headers subset containment."""

    def __init__(
        self,
        method: str | None = None,
        url: str | None = None,
        params: dict | None = None,
        headers: dict | None = None,
    ):
        self.method = method.upper() if method else None
        self.url = url
        self.params = dict(params or {})
        self.headers = dict(headers or {})

    @staticmethod
    def _subset(obj: dict, pattern: dict) -> bool:
        return all(obj.get(k) == v for k, v in pattern.items())

    def __call__(self, request: dict) -> bool:
        if self.method and (request.get("method") or "").upper() != self.method:
            return False
        if self.url and not (request.get("url") or "").startswith(self.url):
            return False
        if self.params and not self._subset(dict(request.get("params") or {}), self.params):
            return False
        if self.headers and not self._subset(dict(request.get("headers") or {}), self.headers):
            return False
        return True


class _BasePolicy:
    def __init__(self, matchers: list[HttpRequestMatcher]):
        self._matchers = list(matchers)

    def matches(self, request: dict) -> bool:
        if not self._matchers:
            return True  # no matchers = matches everything
        return any(m(request) for m in self._matchers)

    def update(self, available_calls: int | None, reset_in_s: float | None) -> None:
        """Server-observed availability; default: ignore."""


class UnlimitedPolicy(_BasePolicy):
    def try_acquire(self, request: dict, weight: int = 1) -> None:
        return None


class FixedWindowPolicy(_BasePolicy):
    """``call_limit`` calls per ``period_s`` window; the window resets at
    fixed boundaries from construction time, or wherever the server says
    (``update`` overwrites both remaining calls and the reset point)."""

    def __init__(
        self,
        period_s: float,
        call_limit: int,
        matchers: list[HttpRequestMatcher] | None = None,
        clock: Callable[[], float] = time.monotonic,
    ):
        super().__init__(matchers or [])
        self.period_s = float(period_s)
        self.call_limit = int(call_limit)
        self._clock = clock
        self._lock = threading.Lock()
        self._window_end = clock() + self.period_s
        self._remaining = self.call_limit

    def _roll(self) -> None:
        now = self._clock()
        while now >= self._window_end:
            self._window_end += self.period_s
            self._remaining = self.call_limit

    def try_acquire(self, request: dict, weight: int = 1) -> None:
        if weight > self.call_limit:
            raise ValueError(f"weight {weight} exceeds call_limit {self.call_limit}")
        with self._lock:
            self._roll()
            if self._remaining >= weight:
                self._remaining -= weight
                return
            raise CallRateLimitHit(
                f"fixed window exhausted ({self.call_limit}/{self.period_s}s)",
                max(0.0, self._window_end - self._clock()),
            )

    def update(self, available_calls: int | None, reset_in_s: float | None) -> None:
        with self._lock:
            if available_calls is not None:
                self._remaining = min(self._remaining, int(available_calls))
            if reset_in_s is not None:
                self._window_end = self._clock() + float(reset_in_s)


class MovingWindowPolicy(_BasePolicy):
    """Sliding-window rates over a call-timestamp log; with several rates
    the TIGHTEST advised wait wins."""

    def __init__(
        self,
        rates: list[Rate],
        matchers: list[HttpRequestMatcher] | None = None,
        clock: Callable[[], float] = time.monotonic,
    ):
        if not rates:
            raise ValueError("MovingWindowPolicy needs at least one Rate")
        super().__init__(matchers or [])
        self.rates = list(rates)
        self._clock = clock
        self._lock = threading.Lock()
        self._log: deque[tuple[float, int]] = deque()  # (ts, weight)

    def try_acquire(self, request: dict, weight: int = 1) -> None:
        for r in self.rates:
            if weight > r.limit:
                # no wait ever frees enough capacity for this call
                raise ValueError(
                    f"call weight {weight} exceeds rate limit {r.limit}/{r.interval_s}s"
                )
        with self._lock:
            now = self._clock()
            horizon = max(r.interval_s for r in self.rates)
            while self._log and self._log[0][0] <= now - horizon:
                self._log.popleft()
            wait = 0.0
            for r in self.rates:
                in_window = [(t, w) for t, w in self._log if t > now - r.interval_s]
                used = sum(w for _, w in in_window)
                if used + weight > r.limit:
                    # the earliest in-window call aging out frees capacity
                    wait = max(wait, in_window[0][0] + r.interval_s - now)
            if wait > 0:
                raise CallRateLimitHit("moving window exhausted", wait)
            self._log.append((now, weight))


class APIBudget:
    """First-matching-policy dispatch. ``acquire_call(block=True)`` sleeps
    out advised waits until acquired or ``timeout`` elapses; non-blocking
    re-raises the hit. Requests matching NO policy are unrestricted (the
    reference's contract)."""

    def __init__(
        self,
        policies: list[Any],
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.policies = list(policies)
        self._clock = clock
        self._sleep = sleep

    def get_matching_policy(self, request: dict):
        for p in self.policies:
            if p.matches(request):
                return p
        return None

    def acquire_call(
        self, request: dict, block: bool = True, timeout: float | None = None
    ) -> None:
        policy = self.get_matching_policy(request)
        if policy is None:
            return
        deadline = None if timeout is None else self._clock() + timeout
        while True:
            try:
                policy.try_acquire(request)
                return
            except CallRateLimitHit as hit:
                if not block:
                    raise
                wait = hit.time_to_wait_s
                if deadline is not None:
                    remaining = deadline - self._clock()
                    if remaining <= 0 or wait > remaining:
                        raise
                self._sleep(max(wait, 0.001))

    def update_from_response(self, request: dict, status: int, headers: dict) -> None:
        """Default budget ignores responses (HttpAPIBudget reads them)."""


class HttpAPIBudget(APIBudget):
    """APIBudget that folds the standard rate-limit headers back into the
    matching policy (call_rate.py:453-523 HttpAPIBudget semantics):
    ``ratelimit-remaining`` -> available calls, ``ratelimit-reset`` ->
    seconds until the window resets."""

    def __init__(
        self,
        policies: list[Any],
        ratelimit_remaining_header: str = "ratelimit-remaining",
        ratelimit_reset_header: str = "ratelimit-reset",
        status_codes_for_ratelimit_hit: tuple[int, ...] = (429,),
        **kw: Any,
    ):
        super().__init__(policies, **kw)
        self.remaining_header = ratelimit_remaining_header.lower()
        self.reset_header = ratelimit_reset_header.lower()
        self.hit_codes = tuple(status_codes_for_ratelimit_hit)

    def update_from_response(self, request: dict, status: int, headers: dict) -> None:
        policy = self.get_matching_policy(request)
        if policy is None:
            return
        h = {str(k).lower(): v for k, v in (headers or {}).items()}
        avail = h.get(self.remaining_header)
        reset = h.get(self.reset_header)
        if status in self.hit_codes and avail is None:
            avail = 0
        if avail is None and reset is None:
            return
        try:
            policy.update(
                int(avail) if avail is not None else None,
                float(reset) if reset is not None else None,
            )
        except (TypeError, ValueError):
            pass  # unparseable server headers never fail a sync
