"""KMS protocol unit tests: wrap/unwrap round-trip, the authorization
lattice matrix, and the payload validation rules the reference enforces
(kms_server.py:52-101, :104-127)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from parquet_modular_encryption_spark.crypto import kms_core
from parquet_modular_encryption_spark.crypto.kms_client import (
    KmsAuthorizationError,
    RestKmsClient,
)
from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
from parquet_modular_encryption_spark.crypto.policy import Privilege, can_unwrap

LEVELS = ["PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]
TOKENS = [None, *LEVELS]


@pytest.fixture(scope="module")
def kms_url():
    server = KmsServer().start()
    yield server.url
    server.stop()


def test_wrap_unwrap_roundtrip_core():
    kek = kms_core.WRAPPING_KEYS["INTERNAL"]
    key = bytes(range(32))
    blob = kms_core.wrap(kek, key)
    assert kms_core.unwrap(kek, blob) == key
    # tamper detection
    bad = blob[:-1] + bytes([blob[-1] ^ 1])
    with pytest.raises(kms_core.KeyValidationError):
        kms_core.unwrap(kek, bad)


def test_rfc3394_test_vector():
    """Wrap format is real RFC 3394 AES-KW (section 4.6 test vector:
    256-bit KEK, 128-bit key data) — byte-compatible with the reference
    server's cryptography.aes_key_wrap (reference kms_server.py:138)."""
    kek = bytes.fromhex(
        "000102030405060708090A0B0C0D0E0F101112131415161718191A1B1C1D1E1F"
    )
    key = bytes.fromhex("00112233445566778899AABBCCDDEEFF")
    expect = bytes.fromhex("64E8C3F9CE0F5BA263E9777905818A2A93C8191E7D6E8AE7")
    assert kms_core.wrap(kek, key) == expect
    assert kms_core.unwrap(kek, expect) == key


def test_key_validation_rules():
    kek = kms_core.WRAPPING_KEYS["PUBLIC"]
    with pytest.raises(kms_core.KeyValidationError):  # not multiple of 8
        kms_core.wrap(kek, b"x" * 17)
    with pytest.raises(kms_core.KeyValidationError):  # < 16 bytes
        kms_core.wrap(kek, b"x" * 8)
    with pytest.raises(kms_core.KeyValidationError):  # unwrap too short
        kms_core.unwrap(kek, b"x" * 16)


def _self_signed_cert(tmp_path):
    """Generate a localhost self-signed cert + key (PEM) for TLS tests."""
    import datetime

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import NameOID

    key = ec.generate_private_key(ec.SECP256R1())
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(minutes=5))
        .not_valid_after(now + datetime.timedelta(hours=1))
        .add_extension(
            x509.SubjectAlternativeName([x509.IPAddress(__import__("ipaddress").ip_address("127.0.0.1"))]),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    cert_path = tmp_path / "kms.crt"
    key_path = tmp_path / "kms.key"
    cert_path.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    key_path.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        )
    )
    return str(cert_path), str(key_path)


def test_tls_roundtrip(tmp_path, monkeypatch):
    """The KMS channel supports TLS with the trust anchor taken from
    SSL_CERT_FILE, matching the reference client (kms_client.py:36-37)."""
    cert, key = _self_signed_cert(tmp_path)
    monkeypatch.setenv("SSL_CERT_FILE", cert)
    server = KmsServer(certfile=cert, keyfile=key).start()
    try:
        assert server.url.startswith("https://")
        client = RestKmsClient(server.url, access_token="INTERNAL")
        payload = bytes(range(16))
        assert client.unwrap_key(client.wrap_key(payload, "INTERNAL"), "INTERNAL") == payload
    finally:
        server.stop()


def test_tls_rejected_without_trust(tmp_path, monkeypatch):
    """Without the cert in the trust store, the client must refuse the
    self-signed server — verification is on, not bypassed."""
    cert, key = _self_signed_cert(tmp_path)
    monkeypatch.delenv("SSL_CERT_FILE", raising=False)
    server = KmsServer(certfile=cert, keyfile=key).start()
    try:
        client = RestKmsClient(server.url, access_token="INTERNAL")
        with pytest.raises(urllib.error.URLError):
            client.wrap_key(bytes(range(16)), "INTERNAL")
    finally:
        server.stop()


def test_rest_roundtrip_all_levels(kms_url):
    key = bytes(range(24))
    for level in LEVELS:
        client = RestKmsClient(kms_url, access_token="RESTRICTED")
        wrapped = client.wrap_key(key, level)
        assert client.unwrap_key(wrapped, level) == key


@pytest.mark.parametrize("token", TOKENS, ids=[str(t) for t in TOKENS])
@pytest.mark.parametrize("level", LEVELS)
def test_authz_matrix(kms_url, token, level):
    """The reference's 5-token × 4-level unwrap matrix (README.md:93-94):
    success iff token privilege dominates the key level; PUBLIC is free."""
    writer = RestKmsClient(kms_url)  # wrap needs no token by design
    wrapped = writer.wrap_key(bytes(range(16)), level)
    reader = RestKmsClient(kms_url, access_token=token)
    expected = can_unwrap(token, level)
    # independent truth: lattice order, not the can_unwrap implementation
    order = {None: 0, "PUBLIC": 1, "INTERNAL": 2, "CONFIDENTIAL": 3, "RESTRICTED": 4}
    assert expected == (level == "PUBLIC" or order[token] >= order[level])
    if expected:
        assert reader.unwrap_key(wrapped, level) == bytes(range(16))
    else:
        with pytest.raises(KmsAuthorizationError):
            reader.unwrap_key(wrapped, level)


def test_unknown_key_id_404(kms_url):
    client = RestKmsClient(kms_url, access_token="RESTRICTED")
    with pytest.raises(RuntimeError, match="404"):
        client.wrap_key(bytes(range(16)), "NOT_A_LEVEL")


def test_invalid_payload_422(kms_url):
    req = urllib.request.Request(
        f"{kms_url}/api/v1/wrap/PUBLIC",
        data=json.dumps({"key": "!!! not base64 !!!"}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(req)
    assert exc.value.code == 422


def test_lattice_total_order():
    assert Privilege.PUBLIC < Privilege.INTERNAL < Privilege.CONFIDENTIAL < Privilege.RESTRICTED


def test_openapi_self_documentation(kms_url):
    """The server documents itself like the reference's FastAPI app:
    /openapi.json is a valid OpenAPI 3 document whose paths exactly match
    the wire protocol the handler implements (wrap unauthenticated, unwrap
    behind x-api-key with a 403), and /docs renders an HTML view of it."""
    spec = json.loads(
        urllib.request.urlopen(f"{kms_url}/openapi.json").read().decode()
    )
    assert spec["openapi"].startswith("3.")
    assert set(spec["paths"]) == {
        "/api/v1/wrap/{key_id}",
        "/api/v1/unwrap/{key_id}",
    }
    wrap_op = spec["paths"]["/api/v1/wrap/{key_id}"]["post"]
    unwrap_op = spec["paths"]["/api/v1/unwrap/{key_id}"]["post"]
    assert "security" not in wrap_op  # wrap is unauthenticated by design
    assert unwrap_op["security"] == [{"apiKey": []}]
    assert "403" in unwrap_op["responses"] and "403" not in wrap_op["responses"]
    assert (
        spec["components"]["securitySchemes"]["apiKey"]["name"] == "x-api-key"
    )

    with urllib.request.urlopen(f"{kms_url}/docs") as resp:
        assert resp.headers.get_content_type() == "text/html"
        html = resp.read().decode()
    assert "/api/v1/unwrap/{key_id}" in html and "/openapi.json" in html

    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(f"{kms_url}/nope")
    assert exc.value.code == 404


def test_crypto_shred_wire_semantics():
    """Crypto-shredding at the wire level: after KmsServer.shred(key_id),
    wrap AND unwrap of that key return 410 Gone (typed as
    KmsKeyShreddedError by the client) — even for a RESTRICTED caller,
    because authorization cannot resurrect destroyed key material. Other
    keys on the same server keep working, an unknown key still maps to
    404 (never existed != destroyed), shredding an unknown key raises,
    and a SECOND server instance retains the shredded key — the registry
    is per-instance, so the process-wide singleton is never affected."""
    from parquet_modular_encryption_spark.crypto.kms_client import (
        KmsKeyShreddedError,
    )

    key = bytes(range(32))
    server = KmsServer().start()
    try:
        client = RestKmsClient(server.url, access_token="RESTRICTED")
        blob = client.wrap_key(key, "CONFIDENTIAL")
        assert client.unwrap_key(blob, "CONFIDENTIAL") == key

        server.shred("CONFIDENTIAL")
        with pytest.raises(KmsKeyShreddedError):
            client.unwrap_key(blob, "CONFIDENTIAL")
        with pytest.raises(KmsKeyShreddedError):
            client.wrap_key(key, "CONFIDENTIAL")
        # sibling keys unaffected; unknown key is 404, not 410
        b2 = client.wrap_key(key, "INTERNAL")
        assert client.unwrap_key(b2, "INTERNAL") == key
        with pytest.raises(RuntimeError, match=r"\(404\)"):
            client.wrap_key(key, "NO_SUCH_KEY")
        with pytest.raises(KeyError):
            server.shred("NO_SUCH_KEY")
    finally:
        server.stop()

    other = KmsServer().start()
    try:
        c2 = RestKmsClient(other.url, access_token="RESTRICTED")
        assert c2.unwrap_key(c2.wrap_key(key, "CONFIDENTIAL"), "CONFIDENTIAL") == key
    finally:
        other.stop()


def test_stop_returns_promptly():
    """``stop()`` waits for the serving thread's next poll, so the poll
    interval bounds every stop; at the stdlib's 0.5 s a start + stop pair
    took about half a second."""
    import time

    t0 = time.perf_counter()
    KmsServer().start().stop()
    elapsed = time.perf_counter() - t0
    assert elapsed < 0.25, f"start + stop took {elapsed:.3f} s"


def test_master_key_rotation_versioned_unwrap():
    """Two-phase master-key rotation at the wire level: after
    KmsServer.rotate(key_id), blobs wrapped under the OLD version still
    unwrap (the server retains version history — the grace window in
    which KeyToolkit rewraps the estate's sidecars), NEW wraps use the
    new KEK (old != new blob for the same plaintext, since AES-KW is
    deterministic per key), and retire_old_versions() is the enforcement
    step: old blobs then fail 422 while new ones keep working. Sibling
    keys are untouched throughout, and rotating an unknown key raises."""
    key = bytes(range(32))
    server = KmsServer().start()
    try:
        client = RestKmsClient(server.url, access_token="RESTRICTED")
        old_blob = client.wrap_key(key, "CONFIDENTIAL")
        sibling_blob = client.wrap_key(key, "INTERNAL")

        server.rotate("CONFIDENTIAL")
        # grace window: both old and new blobs unwrap
        assert client.unwrap_key(old_blob, "CONFIDENTIAL") == key
        new_blob = client.wrap_key(key, "CONFIDENTIAL")
        assert new_blob != old_blob, "rotation did not change the KEK"
        assert client.unwrap_key(new_blob, "CONFIDENTIAL") == key

        server.retire_old_versions("CONFIDENTIAL")
        with pytest.raises(RuntimeError, match=r"\(422\)"):
            client.unwrap_key(old_blob, "CONFIDENTIAL")
        assert client.unwrap_key(new_blob, "CONFIDENTIAL") == key
        # a second rotation composes (v2 -> v3)
        server.rotate("CONFIDENTIAL")
        assert client.unwrap_key(new_blob, "CONFIDENTIAL") == key
        assert client.unwrap_key(
            client.wrap_key(key, "CONFIDENTIAL"), "CONFIDENTIAL"
        ) == key

        # sibling key never rotated: original blob still fine
        assert client.unwrap_key(sibling_blob, "INTERNAL") == key
        with pytest.raises(KeyError):
            server.rotate("NO_SUCH_KEY")
        with pytest.raises(KeyError):
            server.retire_old_versions("NO_SUCH_KEY")
    finally:
        server.stop()
