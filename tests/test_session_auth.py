"""Session-token + selective authentication (sources/auth.py
SessionTokenAuth / select_authenticator vs the reference's
declarative/auth/token_provider.py:32-64 SessionTokenProvider and
selective_authenticator.py:15-43): login-derived tokens with expiry +
re-login mid-pagination, and config-key authenticator dispatch — all
offline via injected transport and clock."""

from __future__ import annotations

import pytest

from airbyte_spark.sources.auth import (
    BasicHttpAuth,
    SessionTokenAuth,
    StaticTokenAuth,
    select_authenticator,
)
from airbyte_spark.sources.declarative import ManifestSource


class SessionApi:
    """Scripted API: /login mints a session token that the data endpoint
    requires; every mint invalidates prior tokens (server-side expiry)."""

    def __init__(self, pages: int = 3):
        self.logins = 0
        self.pages = pages
        self.data_calls = 0

    def __call__(self, method, url, params=None, headers=None, body=None):
        if url.endswith("/login"):
            assert method == "POST"
            # credentials travel in the body, never in the query string
            assert not params and "?" not in url
            if (body or {}).get("user") != "u" or (body or {}).get("pass") != "p":
                return 401, {"error": "bad credentials"}
            self.logins += 1
            return 200, {"session": {"token": f"S{self.logins}"}}
        # data endpoint: only the LATEST minted token is valid
        auth = (headers or {}).get("Authorization", "")
        if auth != f"Bearer S{self.logins}" or self.logins == 0:
            return 401, {"error": "session expired"}
        self.data_calls += 1
        page = int((params or {}).get("page", 1))
        if page > self.pages:
            return 200, {"data": []}
        return 200, {"data": [{"id": page}], "next_page": page + 1}


def _auth(api, clock, expiry=100.0):
    return SessionTokenAuth(
        transport=api,
        login_url="https://api.test/login",
        token_path=("session", "token"),
        login_body={"user": "u", "pass": "p"},
        expiration_duration_s=expiry,
        clock=clock,
    )


def test_token_cached_until_expiry_then_relogin():
    api = SessionApi()
    now = [1000.0]
    auth = _auth(api, lambda: now[0])
    assert auth.auth_header() == {"Authorization": "Bearer S1"}
    assert auth.auth_header() == {"Authorization": "Bearer S1"}
    assert api.logins == 1  # cached inside the window
    now[0] += 101
    assert auth.auth_header() == {"Authorization": "Bearer S2"}
    assert api.logins == 2  # expired -> re-login


def test_no_expiry_duration_relogins_per_request():
    # reference parity: expiration_duration None -> refresh on every call
    api = SessionApi()
    auth = _auth(api, lambda: 0.0, expiry=None)
    auth.auth_header()
    auth.auth_header()
    assert api.logins == 2


def test_login_failures_raise():
    api = SessionApi()
    bad = SessionTokenAuth(
        transport=api, login_url="https://api.test/login",
        login_body={"user": "u", "pass": "WRONG"},
    )
    with pytest.raises(RuntimeError, match="HTTP 401"):
        bad.auth_header()
    missing = SessionTokenAuth(
        transport=api, login_url="https://api.test/login",
        token_path=("nope",), login_body={"user": "u", "pass": "p"},
    )
    with pytest.raises(RuntimeError, match="token path"):
        missing.auth_header()


def test_custom_header_and_raw_token():
    api = SessionApi()
    auth = SessionTokenAuth(
        transport=api, login_url="https://api.test/login",
        token_path=("session", "token"), login_body={"user": "u", "pass": "p"},
        auth_method="", header="X-Session-Token", expiration_duration_s=100,
    )
    assert auth.auth_header() == {"X-Session-Token": "S1"}


def test_token_expires_mid_pagination_and_read_completes(spark):
    """The round's done-gate: the session dies between pages (expiry
    elapses mid-read) and the stream still completes — auth_header() is
    per-request, so page N+1 rides a fresh login."""
    api = SessionApi(pages=3)
    now = [0.0]
    manifest = {
        "streams": [
            {
                "name": "items",
                "url": "https://api.test/items",
                "schema": {"id": "int"},
                "records_field": "data",
                "paginator": {"kind": "cursor", "param": "page",
                              "token_field": "next_page"},
                "authenticator": {
                    "type": "session_token",
                    "login_url": "https://api.test/login",
                    "token_path": ["session", "token"],
                    "login_body": {"user": "u", "pass": "p"},
                    "expiration_duration_s": 100,
                },
            }
        ]
    }
    src = ManifestSource(manifest, api)
    # swap the built authenticator's clock for the scripted one, then age
    # the session after every data call so EVERY page crosses an expiry
    streams = src.streams({})
    streams[0].authenticator.clock = lambda: now[0]
    orig = api.__call__

    def aging(method, url, params=None, headers=None, body=None):
        st, resp = orig(method, url, params=params, headers=headers, body=body)
        if not url.endswith("/login"):
            now[0] += 101  # session ages past expiry between pages
        return st, resp

    api.__call__ = aging  # instance attr shadows for direct calls
    streams[0].transport = aging
    rows, _ = streams[0].read_records()
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert api.logins >= 3  # one fresh login per expired page boundary


def test_selective_authenticator_dispatch():
    a = StaticTokenAuth(token="T")
    b = BasicHttpAuth(username="u", password="p")
    cfg = {"credentials": {"auth_type": "api_key"}}
    got = select_authenticator(cfg, {"api_key": a, "basic": b},
                               ("credentials", "auth_type"))
    assert got is a
    with pytest.raises(ValueError, match="is not found in the config"):
        select_authenticator({}, {"api_key": a}, ("credentials", "auth_type"))
    with pytest.raises(ValueError, match="`oauth` is not found"):
        select_authenticator({"credentials": {"auth_type": "oauth"}},
                             {"api_key": a}, ("credentials", "auth_type"))


def test_selective_manifest_round_trip(spark):
    """A manifest declaring BOTH auth kinds behind a selective dispatch:
    the config key decides which one signs requests."""
    api = SessionApi(pages=1)
    manifest = {
        "streams": [
            {
                "name": "items",
                "url": "https://api.test/items",
                "schema": {"id": "int"},
                "records_field": "data",
                "paginator": {"kind": "cursor", "param": "page",
                              "token_field": "next_page"},
                "authenticator": {
                    "type": "selective",
                    "authenticator_selection_path": ["credentials", "auth_type"],
                    "authenticators": {
                        "session": {
                            "type": "session_token",
                            "login_url": "https://api.test/login",
                            "token_path": ["session", "token"],
                            "login_body": {"user": "u", "pass": "p"},
                            "expiration_duration_s": 1000,
                        },
                        "token": {"type": "token", "token": "STATIC"},
                    },
                },
            }
        ]
    }
    src = ManifestSource(manifest, api)
    streams = src.streams({"credentials": {"auth_type": "session"}})
    assert isinstance(streams[0].authenticator, SessionTokenAuth)
    rows, _ = streams[0].read_records()
    assert [r["id"] for r in rows] == [1]
    assert api.logins == 1

    streams = src.streams({"credentials": {"auth_type": "token"}})
    assert isinstance(streams[0].authenticator, StaticTokenAuth)
