"""Authentication: basic-credential verification + signed-token minting.

Re-expresses the reference's auth middleware
(/root/reference/src/common/gizmosql_security.cpp — basic/JWT bearer
verification :317-440, token minting with a ``role`` claim :263-295)
with the Python stdlib: PBKDF2-hashed passwords and HS256 JWT-shaped
tokens (base64url(header).base64url(claims).base64url(hmac)).

The flow matches §3.1 step 1: a client authenticates once with basic
credentials, receives a signed token carrying username/role/catalog
ACL claims, and presents that token on session creation; the engine
trusts only the signature, never client-asserted roles.

Stock Flight SQL clients resend Basic credentials on every RPC, so
``UserRegistry`` runs the full 100k-iteration PBKDF2 check only for a
(user, password) pair it has not verified yet. After a success it
keeps one entry per user: HMAC-SHA256, under a random key drawn when
the registry is created, of (stored hash ‖ presented password). A
later call whose keyed digest matches is accepted without PBKDF2; any
mismatch falls through to the full check, so a failed guess still
pays the full cost. ``add_user`` drops the entry, and since the stored
hash (salt included) is part of the digest, a changed password never
matches an old entry. No plaintext is kept.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import os
import time


class AuthError(PermissionError):
    pass


_PBKDF2_ITERS = 100_000


def hash_password(password: str, salt: bytes | None = None) -> str:
    """salt$hash, PBKDF2-HMAC-SHA256."""
    salt = salt or os.urandom(16)
    digest = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, _PBKDF2_ITERS)
    return f"{salt.hex()}${digest.hex()}"


def verify_password(password: str, stored: str) -> bool:
    salt_hex, digest_hex = stored.split("$", 1)
    digest = hashlib.pbkdf2_hmac(
        "sha256", password.encode(), bytes.fromhex(salt_hex), _PBKDF2_ITERS
    )
    return hmac.compare_digest(digest.hex(), digest_hex)


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _unb64url(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def mint_token(
    secret: str | bytes,
    username: str,
    role: str,
    ttl_seconds: int = 3600,
    extra_claims: dict | None = None,
    kid: str | None = None,
) -> str:
    """HS256 JWT (mirrors the reference's CreateJwtToken,
    gizmosql_security.cpp:263-295: issuer, subject, role claim, exp).
    ``kid`` stamps the signing key id into the header for JWKS-based
    verification (jwks_manager.cpp analog)."""
    header = {"alg": "HS256", "typ": "JWT"}
    if kid is not None:
        header["kid"] = kid
    now = int(time.time())
    claims = {
        "iss": "gizmosql-spark",
        "sub": username,
        "role": role,
        "iat": now,
        "exp": now + ttl_seconds,
        **(extra_claims or {}),
    }
    signing_input = (
        _b64url(json.dumps(header, separators=(",", ":")).encode())
        + "."
        + _b64url(json.dumps(claims, separators=(",", ":")).encode())
    )
    key = secret.encode() if isinstance(secret, str) else secret
    sig = hmac.new(key, signing_input.encode(), hashlib.sha256).digest()
    return signing_input + "." + _b64url(sig)


def token_kid(token: str) -> str | None:
    """The unverified ``kid`` header field (selects the JWKS key;
    never trusted beyond key lookup)."""
    try:
        header = json.loads(_unb64url(token.split(".", 1)[0]))
        kid = header.get("kid")
        return kid if isinstance(kid, str) else None
    except Exception:
        return None


def verify_token(secret: str | bytes, token: str) -> dict:
    """Signature + expiry check; returns the claims. Fail-closed
    (bad shape, bad signature, expired → AuthError)."""
    try:
        signing_input, _, sig_part = token.rpartition(".")
        key = secret.encode() if isinstance(secret, str) else secret
        expected = hmac.new(
            key, signing_input.encode(), hashlib.sha256
        ).digest()
        if not hmac.compare_digest(expected, _unb64url(sig_part)):
            raise AuthError("bad token signature")
        header_part, _, claims_part = signing_input.partition(".")
        header = json.loads(_unb64url(header_part))
        if header.get("alg") != "HS256":
            raise AuthError("unsupported token algorithm")
        claims = json.loads(_unb64url(claims_part))
    except AuthError:
        raise
    except Exception as exc:
        raise AuthError(f"malformed token: {exc}") from exc
    if claims.get("exp", 0) < time.time():
        raise AuthError("token expired")
    return claims


class JwksManager:
    """Key-set verification with rotation — the local-file analog of
    the reference's JWKS manager (/root/reference/src/enterprise/jwks/
    jwks_manager.cpp: kid-keyed cache :73-100, refresh-on-miss +
    double-checked reload :88-137, skip keys without kid :171-175).

    The key set is a JWKS-shaped JSON file (``{"keys": [{"kty":
    "oct", "kid": ..., "k": base64url-secret, "alg": "HS256"}]}``) —
    symmetric keys, since RSA/EC verification needs non-stdlib crypto;
    the kid-lifecycle semantics (rotate, refresh-on-miss, stale-kid
    rejection) are what the reference's tests exercise. No network in
    this environment: file mtime plays the role of the HTTP re-fetch.
    """

    def __init__(self, jwks_path: str, refresh_interval_s: float = 300.0):
        self.jwks_path = jwks_path
        self.refresh_interval_s = refresh_interval_s
        self._cache: dict[str, bytes] = {}
        self._loaded_at = 0.0
        self._mtime = -1.0
        import threading

        self._lock = threading.Lock()

    def _refresh_locked(self) -> None:
        try:
            mtime = os.stat(self.jwks_path).st_mtime
            with open(self.jwks_path, encoding="utf-8") as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError) as exc:
            raise AuthError(f"cannot load JWKS: {exc}") from exc
        cache: dict[str, bytes] = {}
        for key in doc.get("keys", []):
            kid = key.get("kid")
            if not kid:
                continue  # reference skips keys without kid
            if key.get("kty") != "oct" or key.get("alg", "HS256") != "HS256":
                continue  # unsupported key types are not cached
            try:
                cache[kid] = _unb64url(key["k"])
            except Exception:
                continue
        self._cache = cache
        self._loaded_at = time.time()
        self._mtime = mtime

    def _maybe_refresh(self, force: bool = False) -> None:
        with self._lock:
            stale = (
                force
                or not self._cache
                or time.time() - self._loaded_at > self.refresh_interval_s
            )
            try:
                if not stale and os.stat(self.jwks_path).st_mtime != self._mtime:
                    stale = True
            except OSError:
                stale = True
            if stale:
                self._refresh_locked()

    def key_for_kid(self, kid: str) -> bytes:
        """Cache lookup; one forced refresh on miss (the reference's
        cache-miss-then-refetch path), then fail closed."""
        self._maybe_refresh()
        key = self._cache.get(kid)
        if key is None:
            self._maybe_refresh(force=True)
            key = self._cache.get(kid)
        if key is None:
            raise AuthError(f"unknown signing key id: {kid}")
        return key

    def kids(self) -> list[str]:
        self._maybe_refresh()
        return sorted(self._cache)

    def verify(self, token: str) -> dict:
        kid = token_kid(token)
        if kid is None:
            raise AuthError("token has no kid header; JWKS verification"
                            " requires one")
        return verify_token(self.key_for_kid(kid), token)


def write_jwks(path: str, keys: dict[str, bytes]) -> None:
    """Write a JWKS file mapping kid -> symmetric secret (used by
    deploy tooling and tests to rotate keys)."""
    doc = {
        "keys": [
            {"kty": "oct", "kid": kid, "alg": "HS256", "k": _b64url(secret)}
            for kid, secret in keys.items()
        ]
    }
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


class UserRegistry:
    """username -> (password hash, role, catalog ACL claims).

    The reference loads basic credentials from flags/env and maps them
    to roles (gizmosql_library.cpp); Enterprise carries per-catalog
    read/write ACLs in JWT claims
    (catalog_permissions_handler.cpp).

    Verification rule: ``authenticate`` keeps, per user, the
    HMAC-SHA256 of (stored hash ‖ password) under this registry's
    random key, written only after a full PBKDF2 check succeeded. A
    call whose digest matches skips PBKDF2; any other call runs it, so
    wrong passwords pay the full 100k iterations. ``add_user`` drops
    the user's entry, and the stored hash in the digest keeps an entry
    from matching once the password changes. Entries never hold the
    password and never outlive the registry."""

    def __init__(self) -> None:
        self._users: dict[str, tuple[str, str, dict]] = {}
        #: username -> keyed digest of the last verified credential
        self._verified: dict[str, bytes] = {}
        self._key = os.urandom(32)

    def add_user(
        self,
        username: str,
        password: str,
        role: str = "user",
        read_catalogs: list[str] | None = None,
        write_catalogs: list[str] | None = None,
    ) -> None:
        claims = {}
        if read_catalogs is not None:
            claims["read_catalogs"] = read_catalogs
        if write_catalogs is not None:
            claims["write_catalogs"] = write_catalogs
        self._users[username] = (hash_password(password), role, claims)
        self._verified.pop(username, None)

    def authenticate(self, secret: str, username: str, password: str) -> str:
        entry = self._users.get(username)
        if entry is None:
            raise AuthError("invalid credentials")
        pw_hash, role, claims = entry
        digest = hmac.new(
            self._key, (pw_hash + password).encode(), hashlib.sha256
        ).digest()
        known = self._verified.get(username)
        if known is None or not hmac.compare_digest(known, digest):
            if not verify_password(password, pw_hash):
                raise AuthError("invalid credentials")
            self._verified[username] = digest
        return mint_token(secret, username, role, extra_claims=claims)
