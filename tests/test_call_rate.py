"""Call-rate budgets (sources/call_rate.py vs the reference's
call_rate.py:32-523): request matchers, fixed/moving-window policies,
first-matching-policy dispatch with blocking acquire, server rate-limit
header feedback, and the manifest-declared source-level budget."""

from __future__ import annotations

import pytest

from airbyte_spark.sources.call_rate import (
    APIBudget,
    CallRateLimitHit,
    FixedWindowPolicy,
    HttpAPIBudget,
    HttpRequestMatcher,
    MovingWindowPolicy,
    Rate,
    UnlimitedPolicy,
)


def _req(url="https://api.test/x", method="GET", params=None, headers=None):
    return {"method": method, "url": url, "params": params or {}, "headers": headers or {}}


def test_request_matcher_semantics():
    m = HttpRequestMatcher(method="get", url="https://api.test/search",
                           params={"q": "a"})
    assert m(_req("https://api.test/search?page", params={"q": "a", "p": 1}))
    assert not m(_req("https://api.test/other", params={"q": "a"}))
    assert not m(_req("https://api.test/search", method="POST", params={"q": "a"}))
    assert not m(_req("https://api.test/search", params={"q": "b"}))
    assert HttpRequestMatcher()(_req())  # empty matcher matches everything


def test_moving_window_policy_advises_exact_wait():
    now = [0.0]
    p = MovingWindowPolicy([Rate(2, 60.0)], clock=lambda: now[0])
    p.try_acquire(_req()); now[0] = 10.0; p.try_acquire(_req())
    with pytest.raises(CallRateLimitHit) as ei:
        p.try_acquire(_req())
    # capacity frees when the FIRST call (t=0) ages out of the 60s window
    assert ei.value.time_to_wait_s == pytest.approx(50.0)
    now[0] = 61.0
    p.try_acquire(_req())  # slot freed


def test_moving_window_multiple_rates_tightest_wins():
    now = [0.0]
    p = MovingWindowPolicy([Rate(1, 10.0), Rate(3, 100.0)], clock=lambda: now[0])
    p.try_acquire(_req())
    with pytest.raises(CallRateLimitHit) as ei:
        p.try_acquire(_req())
    assert ei.value.time_to_wait_s == pytest.approx(10.0)  # 1/10s binds first


def test_moving_window_rejects_weight_above_any_limit():
    p = MovingWindowPolicy([Rate(5, 10.0), Rate(2, 60.0)], clock=lambda: 0.0)
    with pytest.raises(ValueError, match="weight 3"):
        p.try_acquire(_req(), weight=3)
    p.try_acquire(_req(), weight=2)  # the rejected call consumed nothing
    with pytest.raises(ValueError):
        MovingWindowPolicy([Rate(0, 10.0)]).try_acquire(_req())


def test_fixed_window_rolls_and_accepts_server_updates():
    now = [0.0]
    p = FixedWindowPolicy(period_s=60, call_limit=2, clock=lambda: now[0])
    p.try_acquire(_req()); p.try_acquire(_req())
    with pytest.raises(CallRateLimitHit):
        p.try_acquire(_req())
    now[0] = 61.0  # window rolled
    p.try_acquire(_req())
    # server says: zero remaining, resets in 30s
    p.update(0, 30.0)
    with pytest.raises(CallRateLimitHit) as ei:
        p.try_acquire(_req())
    assert ei.value.time_to_wait_s == pytest.approx(30.0)


def test_budget_dispatch_blocking_and_timeout():
    now = [0.0]
    slept: list[float] = []

    def sleep(s):
        slept.append(s)
        now[0] += s

    limited = MovingWindowPolicy([Rate(1, 5.0)],
                                 [HttpRequestMatcher(url="https://api.test/hot")],
                                 clock=lambda: now[0])
    budget = APIBudget([limited], clock=lambda: now[0], sleep=sleep)
    hot, cold = _req("https://api.test/hot"), _req("https://api.test/cold")
    budget.acquire_call(cold)  # no matching policy: unrestricted
    budget.acquire_call(hot)
    budget.acquire_call(hot)  # blocks: sleeps ~5s then acquires
    assert slept and slept[0] == pytest.approx(5.0)
    with pytest.raises(CallRateLimitHit):
        budget.acquire_call(hot, block=False)
    with pytest.raises(CallRateLimitHit):
        budget.acquire_call(hot, timeout=1.0)  # advised wait 5s > timeout


def test_http_budget_reads_ratelimit_headers():
    now = [0.0]
    p = FixedWindowPolicy(period_s=60, call_limit=100, clock=lambda: now[0])
    b = HttpAPIBudget([p], clock=lambda: now[0], sleep=lambda s: None)
    b.update_from_response(_req(), 200, {"RateLimit-Remaining": "1",
                                         "RateLimit-Reset": "42"})
    b.acquire_call(_req())  # the one remaining call
    with pytest.raises(CallRateLimitHit) as ei:
        p.try_acquire(_req())
    assert ei.value.time_to_wait_s == pytest.approx(42.0)
    # a 429 without headers zeroes availability
    p2 = FixedWindowPolicy(period_s=60, call_limit=100, clock=lambda: now[0])
    b2 = HttpAPIBudget([p2])
    b2.update_from_response(_req(), 429, {})
    with pytest.raises(CallRateLimitHit):
        p2.try_acquire(_req())
    # unparseable header values never fail the sync
    b2.update_from_response(_req(), 200, {"RateLimit-Remaining": "soon"})


def test_unlimited_policy_shields_matched_endpoints():
    free = UnlimitedPolicy([HttpRequestMatcher(url="https://api.test/meta")])
    tight = MovingWindowPolicy([Rate(1, 60.0)])
    budget = APIBudget([free, tight], sleep=lambda s: None)
    for _ in range(5):
        budget.acquire_call(_req("https://api.test/meta"), block=False)
    budget.acquire_call(_req("https://api.test/data"), block=False)
    with pytest.raises(CallRateLimitHit):
        budget.acquire_call(_req("https://api.test/data"), block=False)


def test_manifest_declared_budget_spaces_calls(spark):
    """Source-level api_budget in the manifest: the hot stream's second
    page waits out the window while the free stream is untouched, and the
    cursor- and datetime-incremental streams, which read through per-slice
    copies of their source, are budgeted too: their calls are spaced by
    their policy's window."""
    import time

    from airbyte_spark.sources.declarative import ManifestSource

    calls: list[tuple[str, float]] = []

    def transport(method, url, params=None, headers=None, body=None):
        calls.append((url, time.monotonic()))
        page = int((params or {}).get("page", 1))
        if page > 2:
            return 200, {"data": []}
        return 200, {"data": [{"id": page}], "next_page": page + 1}

    paged = {"kind": "cursor", "param": "page", "token_field": "next_page"}
    spaced = {"type": "moving_window", "rates": [{"limit": 1, "interval_s": 0.1}]}
    manifest = {
        "api_budget": {
            "type": "http",
            "policies": [
                {"type": "moving_window",
                 "rates": [{"limit": 100, "interval_s": 0.05}],
                 "match": [{"url": "https://api.test/hot"}]},
                dict(spaced, match=[{"url": "https://api.test/inc"}]),
                dict(spaced, match=[{"url": "https://api.test/sliced"}]),
            ],
        },
        "streams": [
            {"name": "hot", "url": "https://api.test/hot",
             "records_field": "data", "paginator": paged,
             "schema": {"id": "int"}},
            {"name": "inc", "url": "https://api.test/inc",
             "records_field": "data", "paginator": paged,
             "incremental": {"type": "cursor", "cursor_field": "id"},
             "schema": {"id": "int"}},
            {"name": "sliced", "url": "https://api.test/sliced",
             "records_field": "data", "paginator": paged,
             "incremental": {"type": "datetime", "start": 0, "step_s": 100,
                             "end": 200},
             "schema": {"id": "int"}},
        ],
    }
    src = ManifestSource(manifest, transport)
    out = src.read(spark, {})
    assert sorted(r["id"] for r in out["hot"][0].collect()) == [1, 2]
    assert len([u for u, _ in calls if u.endswith("/hot")]) == 3
    assert out["inc"][1] == 2
    for url, n_calls in (("https://api.test/inc", 3), ("https://api.test/sliced", 6)):
        at = [t for u, t in calls if u == url]
        assert len(at) == n_calls, url
        # one call per 0.1 s window: the budget slept out each wait
        assert min(b - a for a, b in zip(at, at[1:])) >= 0.09, url
