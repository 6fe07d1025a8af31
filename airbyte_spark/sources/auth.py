"""Request authenticators for the HTTP stream source.

Reference semantics (airbyte-cdk/python/airbyte_cdk/sources/streams/http/
requests_native_auth/):

- ``token.py`` TokenAuthenticator / BasicHttpAuthenticator: a static
  credential rendered as an ``Authorization`` header on every request.
- ``abstract_oauth.py:53-68`` AbstractOauth2Authenticator.get_auth_header:
  return ``Bearer <access_token>``, refreshing first whenever the cached
  token is absent or past its expiry date; ``:136`` reads
  (access_token, expires_in) out of the refresh response.

The transport and the clock are both injected so token lifecycles are
fully testable offline — the same design as the source itself.  Every
authenticator exposes one method, ``auth_header() -> dict[str, str]``,
evaluated PER REQUEST (not per sync) so a token expiring mid-pagination
refreshes transparently.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from airbyte_spark.lineage import log_metric

Transport = Callable[..., tuple[int, Any]]


@dataclass
class StaticTokenAuth:
    """TokenAuthenticator: a fixed ``<method> <token>`` Authorization header
    (requests_native_auth/token.py)."""

    token: str
    auth_method: str = "Bearer"

    def auth_header(self) -> dict[str, str]:
        return {"Authorization": f"{self.auth_method} {self.token}"}


@dataclass
class BasicHttpAuth:
    """BasicHttpAuthenticator: base64(user:password) Authorization header
    (requests_native_auth/token.py BasicHttpAuthenticator)."""

    username: str
    password: str = ""

    def auth_header(self) -> dict[str, str]:
        import base64

        raw = f"{self.username}:{self.password}".encode()
        return {"Authorization": f"Basic {base64.b64encode(raw).decode()}"}


@dataclass
class OAuth2Auth:
    """Oauth2Authenticator: refresh-token grant with cached access token.

    ``auth_header()`` refreshes iff the cached token is missing or within
    ``expiry_margin_s`` of expiry (abstract_oauth.py:53-68 token_has_expired
    check, with a safety margin so a token never dies mid-request), then
    returns the Bearer header. ``invalidate()`` drops the cached token —
    the source calls it on a 401 so a server-side revocation triggers one
    forced refresh instead of a hard failure.

    Single-use refresh tokens (the reference's
    SingleUseRefreshTokenOauth2Authenticator, abstract_oauth.py:169-249):
    when the token endpoint ROTATES the refresh token (returns a new
    ``refresh_token`` in the grant response), the authenticator adopts it
    for subsequent refreshes and calls ``on_refresh_token_update(new)`` so
    the caller can persist it — the analog of the reference emitting an
    AirbyteControlMessage(CONNECTOR_CONFIG) to update the stored config;
    without persistence the next sync would replay a dead token.
    """

    transport: Transport
    token_url: str
    client_id: str
    client_secret: str
    refresh_token: str
    scopes: list[str] | None = None
    expiry_margin_s: float = 30.0
    clock: Callable[[], float] = time.time  # injectable for tests
    on_refresh_token_update: Callable[[str], None] | None = None

    _access_token: str | None = field(default=None, repr=False)
    _expires_at: float = field(default=0.0, repr=False)

    def _token_valid(self) -> bool:
        return (
            self._access_token is not None
            and self.clock() < self._expires_at - self.expiry_margin_s
        )

    def _refresh(self) -> None:
        """POST the refresh-token grant (abstract_oauth.py:96-136
        build_refresh_request_body / refresh_access_token)."""
        body = {
            "grant_type": "refresh_token",
            "client_id": self.client_id,
            "client_secret": self.client_secret,
            "refresh_token": self.refresh_token,
        }
        if self.scopes:
            body["scopes"] = " ".join(self.scopes)
        status, resp = self.transport("POST", self.token_url, params=body, headers={})
        if status >= 400:
            raise RuntimeError(f"OAuth2 token refresh failed: HTTP {status}")
        self._access_token = resp["access_token"]
        self._expires_at = self.clock() + float(resp.get("expires_in", 3600))
        rotated = resp.get("refresh_token")
        if rotated and rotated != self.refresh_token:
            self.refresh_token = rotated
            log_metric("oauth2_refresh_token_rotated", token_url=self.token_url)
            if self.on_refresh_token_update is not None:
                self.on_refresh_token_update(rotated)
        log_metric(
            "oauth2_token_refreshed",
            token_url=self.token_url,
            expires_in=float(resp.get("expires_in", 3600)),
        )

    def invalidate(self) -> None:
        self._access_token = None
        self._expires_at = 0.0

    def auth_header(self) -> dict[str, str]:
        if not self._token_valid():
            self._refresh()
        return {"Authorization": f"Bearer {self._access_token}"}


@dataclass
class SessionTokenAuth:
    """SessionTokenProvider (declarative/auth/token_provider.py:32-64): the
    token comes from a LOGIN REQUEST (the older-SaaS pattern), cached until
    ``expiration_duration_s`` elapses, then re-derived by logging in again.
    ``auth_header()`` is evaluated per request, so a token expiring
    mid-pagination re-logins transparently and the read completes.

    Reference parity notes: the token is extracted from the login response
    at ``token_path`` (dpath semantics, here a key tuple); with NO
    expiration duration the reference refreshes on EVERY get_token call
    (`_refresh_if_necessary`: `_next_expiration_time is None` -> refresh) —
    mirrored here, and worth knowing before omitting the duration. A null
    login response or missing path raises (ReadException analog).
    ``auth_method=""`` injects the raw token (the declarative
    RequestOption/ApiKey form, e.g. ``header="X-Session-Token"``).
    """

    transport: Transport
    login_url: str
    token_path: tuple[str, ...] = ("session_token",)
    login_method: str = "POST"
    login_body: dict | None = None
    login_headers: dict | None = None
    expiration_duration_s: float | None = None
    auth_method: str = "Bearer"
    header: str = "Authorization"
    clock: Callable[[], float] = time.time  # injectable for tests

    _token: str | None = field(default=None, repr=False)
    _expires_at: float | None = field(default=None, repr=False)

    def _login(self) -> None:
        creds = dict(self.login_body or {})
        # a POST login carries the credentials in its body, never in the
        # URL (which proxies and access logs record)
        post = self.login_method.upper() == "POST"
        status, resp = self.transport(
            self.login_method,
            self.login_url,
            params=None if post else creds,
            headers=dict(self.login_headers or {}),
            body=creds if post else None,
        )
        if status >= 400 or resp is None:
            raise RuntimeError(f"session login failed: HTTP {status}")
        tok: Any = resp
        for k in self.token_path:
            try:
                tok = tok[k]
            except (KeyError, IndexError, TypeError):
                raise RuntimeError(
                    f"session token path {list(self.token_path)} not found "
                    "in login response"
                ) from None
        if tok is None:
            raise RuntimeError("session login returned a null token")
        self._token = str(tok)
        if self.expiration_duration_s is not None:
            self._expires_at = self.clock() + float(self.expiration_duration_s)
        log_metric("session_token_refreshed", login_url=self.login_url)

    def invalidate(self) -> None:
        """Force a re-login on the next request (401 handling hook)."""
        self._token = None
        self._expires_at = None

    def auth_header(self) -> dict[str, str]:
        if (
            self._token is None
            or self._expires_at is None  # no duration -> re-login per request
            or self.clock() >= self._expires_at
        ):
            self._login()
        value = f"{self.auth_method} {self._token}" if self.auth_method else self._token
        return {self.header: value}


def select_authenticator(
    config: dict, authenticators: dict[str, Any], selection_path: tuple[str, ...]
):
    """SelectiveAuthenticator (declarative/auth/selective_authenticator.py:
    15-43): dispatch to one of several pre-built authenticators on a config
    value — e.g. ``config["credentials"]["auth_type"]`` choosing between
    an oauth2 and an api-key block in the same connector spec. Returns the
    SELECTED authenticator itself (the reference's ``__new__`` trick);
    missing path or unknown key raises ValueError with the same messages.
    """
    node: Any = config
    for k in selection_path:
        try:
            node = node[k]
        except (KeyError, IndexError, TypeError):
            raise ValueError(
                "The path from `authenticator_selection_path` is not found "
                "in the config."
            ) from None
    key = str(node)
    if key not in authenticators:
        raise ValueError(f"The authenticator `{key}` is not found.")
    return authenticators[key]
