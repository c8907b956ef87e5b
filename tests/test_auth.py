"""Auth + catalog-permission tests (gizmosql_security.cpp /
catalog_permissions_handler.cpp analogs): basic-credential token
minting, signature/expiry verification, role claims driving session
privileges, catalog ACL wildcards."""

from __future__ import annotations

import pytest

from gizmosql_spark import auth, security
from gizmosql_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark=spark)
    eng.add_user("alice", "wonderland", role="admin")
    eng.add_user("bob", "builder", role="readonly")
    eng.add_user(
        "carol",
        "x",
        role="user",
        read_catalogs=["spark_catalog", "dev_*"],
        write_catalogs=["dev_*"],
    )
    return eng


def test_password_hash_roundtrip():
    h = auth.hash_password("s3cret")
    assert auth.verify_password("s3cret", h)
    assert not auth.verify_password("wrong", h)


@pytest.fixture
def pbkdf2_calls(monkeypatch):
    """Counts full PBKDF2 checks (``auth.verify_password`` calls)."""
    calls: list[str] = []
    real = auth.verify_password

    def counting(password, stored):
        calls.append(stored)
        return real(password, stored)

    monkeypatch.setattr(auth, "verify_password", counting)
    return calls


def test_repeat_credential_runs_pbkdf2_once(pbkdf2_calls):
    reg = auth.UserRegistry()
    reg.add_user("dana", "pw-1", role="admin")
    for _ in range(5):
        claims = auth.verify_token("k", reg.authenticate("k", "dana", "pw-1"))
        assert claims["sub"] == "dana" and claims["role"] == "admin"
    assert len(pbkdf2_calls) == 1


def test_wrong_password_after_success_pays_full_check(pbkdf2_calls):
    reg = auth.UserRegistry()
    reg.add_user("dana", "pw-1")
    reg.authenticate("k", "dana", "pw-1")
    for n in (2, 3):
        with pytest.raises(auth.AuthError):
            reg.authenticate("k", "dana", "pw-2")
        assert len(pbkdf2_calls) == n
    # the failed guesses did not disturb the verified entry
    reg.authenticate("k", "dana", "pw-1")
    assert len(pbkdf2_calls) == 3


def test_password_change_invalidates_verified_entry(pbkdf2_calls):
    reg = auth.UserRegistry()
    reg.add_user("dana", "old-pw")
    reg.authenticate("k", "dana", "old-pw")
    reg.add_user("dana", "new-pw")
    with pytest.raises(auth.AuthError):
        reg.authenticate("k", "dana", "old-pw")
    assert len(pbkdf2_calls) == 2
    reg.authenticate("k", "dana", "new-pw")
    reg.authenticate("k", "dana", "new-pw")
    assert len(pbkdf2_calls) == 3


def test_stale_entry_never_matches_a_new_hash(pbkdf2_calls):
    """An entry written against the old hash (a verify racing a
    password change) cannot accept the old password afterwards."""
    reg = auth.UserRegistry()
    reg.add_user("dana", "old-pw")
    reg.authenticate("k", "dana", "old-pw")
    stale = reg._verified["dana"]
    reg.add_user("dana", "new-pw")
    reg._verified["dana"] = stale
    with pytest.raises(auth.AuthError):
        reg.authenticate("k", "dana", "old-pw")
    assert len(pbkdf2_calls) == 2


def test_password_change_under_concurrent_logins(monkeypatch):
    """Once ``add_user`` has returned with a new password, no login
    that starts afterwards accepts the old one, however the change
    interleaves with concurrent verifications."""
    import sys
    import threading

    monkeypatch.setattr(auth, "_PBKDF2_ITERS", 1)
    reg = auth.UserRegistry()
    violations: list[int] = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for rnd in range(20):
            old, new = f"pw-{rnd}", f"pw-{rnd + 1}"
            reg.add_user("dana", old)
            changed, stop = threading.Event(), threading.Event()

            def login(old=old, changed=changed, stop=stop):
                while not stop.is_set():
                    after = changed.is_set()
                    try:
                        reg.authenticate("k", "dana", old)
                    except auth.AuthError:
                        continue
                    if after:
                        violations.append(rnd)

            workers = [threading.Thread(target=login) for _ in range(8)]
            for w in workers:
                w.start()
            reg.add_user("dana", new)
            changed.set()
            stop.wait(0.02)
            stop.set()
            for w in workers:
                w.join(timeout=10)
            assert not any(w.is_alive() for w in workers)
    finally:
        sys.setswitchinterval(switch)
    assert violations == []


def test_unknown_user_rejected_despite_verified_password():
    reg = auth.UserRegistry()
    reg.add_user("dana", "pw-1")
    reg.authenticate("k", "dana", "pw-1")
    with pytest.raises(auth.AuthError):
        reg.authenticate("k", "nobody", "pw-1")


def test_registries_share_no_verified_entry(pbkdf2_calls):
    first, second = auth.UserRegistry(), auth.UserRegistry()
    for reg in (first, second):
        reg.add_user("dana", "pw-1")
    first.authenticate("k", "dana", "pw-1")
    assert second._verified == {}
    second.authenticate("k", "dana", "pw-1")
    assert len(pbkdf2_calls) == 2


def test_registry_keeps_no_plaintext_password():
    reg = auth.UserRegistry()
    reg.add_user("dana", "plain-text-pw")
    reg.authenticate("k", "dana", "plain-text-pw")
    held = repr(vars(reg)).encode() + b"".join(reg._verified.values())
    assert reg._verified
    assert b"plain-text-pw" not in held
    assert "plain-text-pw".encode().hex().encode() not in held


def test_token_mint_and_verify():
    tok = auth.mint_token("k", "u", "admin", extra_claims={"read_catalogs": ["a"]})
    claims = auth.verify_token("k", tok)
    assert claims["sub"] == "u"
    assert claims["role"] == "admin"
    assert claims["read_catalogs"] == ["a"]


def test_token_bad_signature_rejected():
    tok = auth.mint_token("k", "u", "admin")
    with pytest.raises(auth.AuthError):
        auth.verify_token("other-key", tok)
    with pytest.raises(auth.AuthError):
        auth.verify_token("k", tok[:-4] + "AAAA")


def test_token_expiry():
    tok = auth.mint_token("k", "u", "user", ttl_seconds=-10)
    with pytest.raises(auth.AuthError):
        auth.verify_token("k", tok)


def test_engine_basic_auth_flow(engine):
    tok = engine.authenticate("alice", "wonderland")
    sid = engine.create_session(token=tok)
    st = engine.sessions[sid]
    assert st.role == "admin" and st.username == "alice"
    # admin may run gated statements (local file read)
    res = engine.execute_sql(
        sid, "SELECT 1 AS x"
    )
    assert engine.collect(sid, res)[0]["x"] == 1
    engine.close_session(sid)


def test_engine_rejects_bad_credentials(engine):
    with pytest.raises(auth.AuthError):
        engine.authenticate("alice", "nope")
    with pytest.raises(auth.AuthError):
        engine.authenticate("nobody", "x")


def test_token_role_overrides_requested(engine):
    tok = engine.authenticate("bob", "builder")
    sid = engine.create_session(role="admin", token=tok)  # claim ignored
    assert engine.sessions[sid].role == "readonly"
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "CREATE TABLE t_auth_x AS SELECT 1 AS a")
    engine.close_session(sid)


def test_catalog_acl_wildcards():
    assert security.catalog_allowed(["dev_*"], "dev_lake")
    assert not security.catalog_allowed(["dev_*"], "prod")
    assert security.catalog_allowed(None, "anything")


def test_catalog_acl_enforced(engine):
    tok = engine.authenticate("carol", "x")
    sid = engine.create_session(token=tok)
    # allowed: default catalog read
    res = engine.execute_sql(sid, "SELECT 1 AS x")
    assert engine.collect(sid, res)[0]["x"] == 1
    # denied: reading an unauthorized catalog
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "SELECT * FROM prod_cat.default.secrets")
    # denied: writing the default catalog (write ACL = dev_* only)
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "INSERT INTO t_acl VALUES (1)")
    engine.close_session(sid)


def test_ddl_write_target_extraction():
    from gizmosql_spark.dialect import ddl_write_target

    assert ddl_write_target("CREATE TABLE prod.db.t AS SELECT 1") == "prod.db.t"
    assert ddl_write_target("CREATE OR REPLACE TABLE t2 (a INT)") == "t2"
    assert ddl_write_target("DROP TABLE IF EXISTS prod.db.t") == "prod.db.t"
    assert ddl_write_target("ALTER TABLE t ADD COLUMN c INT") == "t"
    assert ddl_write_target("TRUNCATE TABLE prod.db.t") == "prod.db.t"
    assert ddl_write_target("DROP VIEW v1") == "v1"
    # TEMP views are session-local, not a catalog write
    assert ddl_write_target("CREATE TEMP VIEW v AS SELECT 1") is None
    assert ddl_write_target("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1") is None
    assert ddl_write_target("SELECT * FROM t") is None


def test_catalog_acl_gates_ddl(engine):
    """CREATE TABLE AS / DROP TABLE against a non-writable catalog are
    denied just like DML (reference: modified_databases covers DDL)."""
    tok = engine.authenticate("carol", "x")
    sid = engine.create_session(token=tok)
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "CREATE TABLE t_ddl_acl AS SELECT 1 AS a")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "DROP TABLE IF EXISTS spark_catalog.default.x")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(sid, "TRUNCATE TABLE some_table")
    # TEMP VIEW creation stays allowed (session-local)
    engine.execute_sql(sid, "CREATE OR REPLACE TEMP VIEW v_acl AS SELECT 1 AS a")
    engine.close_session(sid)


def test_struct_field_access_not_a_catalog_ref():
    """Qualified struct access (alias.col.field) must not parse as a
    catalog reference — it used to spuriously deny ACL'd sessions."""
    # alias 'e' is not a catalog: allowed
    security.check_catalog_access(
        "SELECT e.props.k FROM events e",
        read_catalogs=["spark_catalog"], write_catalogs=None,
        write_target=None,
    )
    # real three-part reference in FROM position: denied
    with pytest.raises(security.CommandDenied):
        security.check_catalog_access(
            "SELECT * FROM prod.db.t",
            read_catalogs=["spark_catalog"], write_catalogs=None,
            write_target=None,
        )
    # comma continuation of a FROM list is still caught
    with pytest.raises(security.CommandDenied):
        security.check_catalog_access(
            "SELECT * FROM spark_catalog.default.a, prod.db.t",
            read_catalogs=["spark_catalog"], write_catalogs=None,
            write_target=None,
        )
    # JOIN position caught, struct access in SELECT list ignored
    security.check_catalog_access(
        "SELECT a.b.c FROM t1 a JOIN spark_catalog.default.t2 b ON a.id = b.id",
        read_catalogs=["spark_catalog"], write_catalogs=None,
        write_target=None,
    )


# --- JWKS key-set verification + rotation (jwks_manager.cpp analog) --


def test_jwks_verify_and_rotate(tmp_path):
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key_a, key_b = _os.urandom(32), _os.urandom(32)
    auth.write_jwks(jwks_path, {"key-a": key_a})
    mgr = auth.JwksManager(jwks_path)
    assert mgr.kids() == ["key-a"]

    tok_a = auth.mint_token(key_a, "u", "user", kid="key-a")
    assert mgr.verify(tok_a)["sub"] == "u"

    # rotate: key-a retired, key-b current (mtime change forces reload)
    auth.write_jwks(jwks_path, {"key-b": key_b})
    _os.utime(jwks_path, (0, 0))  # ensure mtime differs from cached
    tok_b = auth.mint_token(key_b, "u", "admin", kid="key-b")
    assert mgr.verify(tok_b)["role"] == "admin"
    # stale kid now rejected (refresh-on-miss finds it gone)
    with pytest.raises(auth.AuthError):
        mgr.verify(tok_a)


def test_jwks_refresh_on_miss(tmp_path):
    """A token minted with a kid the manager has not seen triggers a
    forced refresh (the reference's cache-miss-then-refetch path)."""
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key_a, key_b = _os.urandom(32), _os.urandom(32)
    auth.write_jwks(jwks_path, {"key-a": key_a})
    mgr = auth.JwksManager(jwks_path, refresh_interval_s=10_000)
    assert mgr.kids() == ["key-a"]
    # add key-b behind the manager's back, same refresh window
    auth.write_jwks(jwks_path, {"key-a": key_a, "key-b": key_b})
    tok_b = auth.mint_token(key_b, "v", "user", kid="key-b")
    assert mgr.verify(tok_b)["sub"] == "v"


def test_jwks_requires_kid(tmp_path):
    jwks_path = str(tmp_path / "jwks.json")
    auth.write_jwks(jwks_path, {"key-a": b"s" * 32})
    mgr = auth.JwksManager(jwks_path)
    with pytest.raises(auth.AuthError):
        mgr.verify(auth.mint_token("whatever", "u", "user"))  # no kid


def test_jwks_skips_malformed_keys(tmp_path):
    import json as _json

    jwks_path = str(tmp_path / "jwks.json")
    with open(jwks_path, "w") as f:
        _json.dump({"keys": [
            {"kty": "oct", "k": "AAAA"},                     # no kid
            {"kty": "RSA", "kid": "rsa-1", "n": "x"},        # unsupported
            {"kty": "oct", "kid": "good", "alg": "HS256",
             "k": "c2VjcmV0LXNlY3JldC1zZWNyZXQ"},
        ]}, f)
    mgr = auth.JwksManager(jwks_path)
    assert mgr.kids() == ["good"]


def test_engine_jwks_session_flow(engine, tmp_path):
    """A session created from a JWKS-verified token carries its role +
    catalog ACL claims; after rotation the old token is refused."""
    import os as _os

    jwks_path = str(tmp_path / "jwks.json")
    key = _os.urandom(32)
    auth.write_jwks(jwks_path, {"ops-1": key})
    engine.use_jwks(jwks_path)
    try:
        tok = auth.mint_token(
            key, "ops", "admin", kid="ops-1",
            extra_claims={"read_catalogs": ["spark_catalog"]})
        sid = engine.create_session(token=tok)
        st = engine.sessions[sid]
        assert st.role == "admin" and st.username == "ops"
        assert st.read_catalogs == ["spark_catalog"]
        engine.close_session(sid)
        # rotate the key set: the minted token dies with its kid
        auth.write_jwks(jwks_path, {"ops-2": _os.urandom(32)})
        _os.utime(jwks_path, (0, 0))
        with pytest.raises(auth.AuthError):
            engine.create_session(token=tok)
        # engine-secret tokens (no kid) still verify
        basic_tok = engine.authenticate("alice", "wonderland")
        sid2 = engine.create_session(token=basic_tok)
        engine.close_session(sid2)
    finally:
        engine.jwks = None
