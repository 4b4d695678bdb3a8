"""Stdlib-HTTP KMS server speaking the reference's wrap/unwrap protocol.

Endpoints (reference kms_server.py:131-157):

    POST /api/v1/wrap/{key_id}    body {"key": "<b64>"}  → {"key": "<b64>"}
    POST /api/v1/unwrap/{key_id}  body {"key": "<b64>"}  → {"key": "<b64>"}

Semantics preserved from the reference:
- wrap is deliberately unauthenticated (anyone may encrypt,
  kms_server.py:135-139); unwrap checks the ``x-api-key`` header against
  the privilege lattice (kms_server.py:104-127) and returns 403 on
  insufficient privilege.
- invalid payloads → 422 (kms_server.py:98-101).

Implemented on ``http.server.ThreadingHTTPServer`` (FastAPI is not in this
environment); the protocol shape is identical, so the reference's httpx
client code would interoperate.
"""

from __future__ import annotations

import json
import ssl
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from parquet_modular_encryption_spark.crypto import kms_core
from parquet_modular_encryption_spark.crypto.policy import can_unwrap

#: ``serve_forever`` poll interval. ``stop()`` waits for the next poll
#: before it returns, and the stdlib default of 0.5 s made every stop
#: block for about that long.
POLL_INTERVAL_S = 0.05


# OpenAPI 3 document for the wrap/unwrap surface — the stdlib stand-in
# for the reference's FastAPI auto-generated docs (reference serves
# /docs + /openapi.json out of the box, README.md:82-94). Hand-written
# but exact: same paths, bodies, auth header, and status codes the
# handler below implements.
OPENAPI_SPEC = {
    "openapi": "3.0.3",
    "info": {
        "title": "Demo KMS",
        "version": "0.1",
        "description": (
            "Parquet Modular Encryption demo KMS: RFC 3394 AES key "
            "wrapping behind a privilege-lattice authorization check."
        ),
    },
    "components": {
        "schemas": {
            "KeyPayload": {
                "type": "object",
                "required": ["key"],
                "properties": {
                    "key": {"type": "string", "format": "byte",
                            "description": "base64 key material, length % 8 == 0"}
                },
            },
            "Error": {
                "type": "object",
                "properties": {"detail": {"type": "string"}},
            },
        },
        "securitySchemes": {
            "apiKey": {"type": "apiKey", "in": "header", "name": "x-api-key"}
        },
    },
    "paths": {
        "/api/v1/wrap/{key_id}": {
            "post": {
                "summary": "Wrap key material (unauthenticated by design)",
                "parameters": [{"name": "key_id", "in": "path",
                                "required": True, "schema": {"type": "string"}}],
                "requestBody": {"required": True, "content": {"application/json": {
                    "schema": {"$ref": "#/components/schemas/KeyPayload"}}}},
                "responses": {
                    "200": {"description": "wrapped key", "content": {
                        "application/json": {"schema": {"$ref": "#/components/schemas/KeyPayload"}}}},
                    "404": {"description": "unknown wrapping key"},
                    "410": {"description": "key material destroyed (crypto-shredded)"},
                    "422": {"description": "invalid key payload"},
                },
            }
        },
        "/api/v1/unwrap/{key_id}": {
            "post": {
                "summary": "Unwrap key material (requires x-api-key privilege)",
                "security": [{"apiKey": []}],
                "parameters": [{"name": "key_id", "in": "path",
                                "required": True, "schema": {"type": "string"}}],
                "requestBody": {"required": True, "content": {"application/json": {
                    "schema": {"$ref": "#/components/schemas/KeyPayload"}}}},
                "responses": {
                    "200": {"description": "unwrapped key", "content": {
                        "application/json": {"schema": {"$ref": "#/components/schemas/KeyPayload"}}}},
                    "403": {"description": "token not authorized for key_id"},
                    "404": {"description": "unknown wrapping key"},
                    "410": {"description": "key material destroyed (crypto-shredded)"},
                    "422": {"description": "invalid key payload"},
                },
            }
        },
    },
}


class _KmsHandler(BaseHTTPRequestHandler):
    server_version = "DemoKMS/0.1"

    def log_message(self, fmt: str, *args) -> None:  # silence per-request noise
        pass

    def _reply(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        """Interactive self-documentation, matching the reference's FastAPI
        surface: /openapi.json serves the machine-readable spec, /docs a
        dependency-free HTML rendering of it (no CDN assets — the
        environment is offline)."""
        path = self.path.split("?", 1)[0]
        if path == "/openapi.json":
            self._reply(200, OPENAPI_SPEC)
            return
        if path == "/docs":
            rows = []
            for route, methods in OPENAPI_SPEC["paths"].items():
                for method, op in methods.items():
                    rows.append(
                        f"<tr><td><code>{method.upper()}</code></td>"
                        f"<td><code>{route}</code></td>"
                        f"<td>{op['summary']}</td>"
                        f"<td>{', '.join(sorted(op['responses']))}</td></tr>"
                    )
            info = OPENAPI_SPEC["info"]
            body = (
                "<!doctype html><html><head><title>{t}</title></head><body>"
                "<h1>{t} v{v}</h1><p>{d}</p>"
                "<p>Machine-readable spec: <a href='/openapi.json'>/openapi.json</a></p>"
                "<table border='1' cellpadding='6'>"
                "<tr><th>method</th><th>path</th><th>summary</th><th>statuses</th></tr>"
                "{rows}</table></body></html>"
            ).format(t=info["title"], v=info["version"],
                     d=info["description"], rows="".join(rows)).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        self._reply(404, {"detail": "not found"})

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        parts = self.path.strip("/").split("/")
        # expected: api / v1 / {wrap|unwrap} / {key_id}
        if len(parts) != 4 or parts[:2] != ["api", "v1"] or parts[2] not in ("wrap", "unwrap"):
            self._reply(404, {"detail": "not found"})
            return
        action, key_id = parts[2], parts[3]
        counters = getattr(self.server, "pme_counters", None)
        if counters is not None:  # wire-level call census (tests)
            counters[action] = counters.get(action, 0) + 1
        key_counters = getattr(self.server, "pme_key_counters", None)
        if key_counters is not None:  # per-key-id census (least-privilege tests)
            k = (parts[2], parts[3])
            key_counters[k] = key_counters.get(k, 0) + 1
        # per-server key registry: KmsServer seeds a COPY of the demo
        # keys, so crypto-shredding one instance never affects another
        keys = getattr(self.server, "pme_keys", kms_core.WRAPPING_KEYS)
        kek = keys.get(key_id)
        if kek is None:
            if key_id in getattr(self.server, "pme_shredded", ()):
                # 410 Gone, not 404: the key EXISTED and its material was
                # deliberately destroyed — data under it is unrecoverable
                self._reply(
                    410,
                    {"detail": f"key material for {key_id!r} destroyed (crypto-shredded)"},
                )
            else:
                self._reply(404, {"detail": f"unknown wrapping key {key_id!r}"})
            return
        try:
            length = int(self.headers.get("Content-Length", "0"))
            payload = json.loads(self.rfile.read(length) or b"{}")
            key_b64 = payload["key"]
        except (json.JSONDecodeError, KeyError):
            self._reply(422, {"detail": "body must be JSON with a 'key' field"})
            return
        try:
            key = kms_core.b64d(key_b64)
            if action == "wrap":
                # wrap endpoint is unauthenticated by design (reference
                # kms_server.py:135-139): writing requires no privilege.
                # Wraps always use the CURRENT master-key version.
                result = kms_core.wrap(kek, key)
            else:
                token = self.headers.get("x-api-key")
                if not can_unwrap(token, key_id):
                    self._reply(403, {"detail": f"token not authorized for {key_id}"})
                    return
                result = self._unwrap_any_version(key_id, kek, key)
        except kms_core.KeyValidationError as exc:
            self._reply(422, {"detail": str(exc)})
            return
        self._reply(200, {"key": kms_core.b64e(result)})

    def _unwrap_any_version(self, key_id: str, current: bytes, blob: bytes) -> bytes:
        """Unwrap against the current KEK, falling back to retained older
        versions (master-key rotation leaves old blobs in the wild until
        every sidecar/footer is rewrapped; a KMS that forgot its previous
        versions would brick them instantly). RFC 3394's integrity block
        makes trying versions safe: a wrong KEK fails deterministically,
        never yields garbage. The wire format is unchanged — versioning is
        entirely the server's concern."""
        versions = getattr(self.server, "pme_key_versions", {}).get(key_id, [])
        for kek in [current] + [v for v in reversed(versions) if v != current]:
            try:
                return kms_core.unwrap(kek, blob)
            except kms_core.KeyValidationError:
                continue
        raise kms_core.KeyValidationError(
            "key unwrap failed integrity check under every retained version"
        )


class _PmeKmsHttpServer(ThreadingHTTPServer):
    """ThreadingHTTPServer with a listen backlog sized for burst load:
    a 32-way parallel decrypting scan opens one KMS connection per task
    near-simultaneously, and the http.server default backlog of 5 drops
    the overflow mid-handshake ('HTTP/1.1 header parser received no
    bytes' on the JVM client — measured when q49f's scratch went from 1
    file to session-parallelism files, r14). 128 covers hundreds of
    concurrent unwraps; real deployments put the KMS behind a proper
    fronting server, but the fleet-of-executors burst SHAPE is exactly
    what this in-process stand-in must survive."""

    request_queue_size = 128
    daemon_threads = True


class KmsServer:
    """In-process KMS for tests and local runs: ``with KmsServer() as url:``."""

    def __init__(
        self,
        port: int = 0,
        *,
        certfile: str | None = None,
        keyfile: str | None = None,
    ) -> None:
        """Plain HTTP by default; pass ``certfile``/``keyfile`` to serve TLS
        (the reference deploys behind TLS and clients trust it via
        ``SSL_CERT_FILE``, reference kms_client.py:36-37)."""
        self._httpd = _PmeKmsHttpServer(("127.0.0.1", port), _KmsHandler)
        # wire-level wrap/unwrap request counts, visible to tests via
        # ``counters`` — the ground truth for "did pruning skip KMS work"
        self._httpd.pme_counters = {"wrap": 0, "unwrap": 0}
        # per-instance key registry (a COPY of the demo keys): shredding a
        # key on this server leaves every other server — in particular the
        # process-wide shared singleton — untouched
        self._httpd.pme_keys = dict(kms_core.WRAPPING_KEYS)
        self._httpd.pme_shredded = set()
        # master-key version history per key_id (oldest → newest, including
        # the current): unwrap falls back through these after a rotation
        self._httpd.pme_key_versions = {
            k: [v] for k, v in kms_core.WRAPPING_KEYS.items()
        }
        # per-(action, key_id) request counts — the ground truth for
        # "which keys did this read actually fetch" least-privilege tests
        self._httpd.pme_key_counters = {}
        self._tls = certfile is not None
        if self._tls:
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile, keyfile)
            self._httpd.socket = ctx.wrap_socket(self._httpd.socket, server_side=True)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, args=(POLL_INTERVAL_S,), daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"{'https' if self._tls else 'http'}://{host}:{port}"

    @property
    def counters(self) -> dict:
        """Wire-level request counts: {"wrap": n, "unwrap": n}."""
        return self._httpd.pme_counters

    @property
    def key_counters(self) -> dict:
        """Per-(action, key_id) wire request counts, e.g.
        ``{("unwrap", "INTERNAL"): 3}``."""
        return self._httpd.pme_key_counters

    def reset_counters(self) -> None:
        self._httpd.pme_counters.update(wrap=0, unwrap=0)
        self._httpd.pme_key_counters.clear()

    def rotate(self, key_id: str) -> None:
        """Master-key rotation: derive a fresh KEK version for ``key_id``.
        New wraps use the new version immediately; unwraps of existing
        blobs keep working through the retained version history until
        :meth:`retire_old_versions` — the standard two-phase rotation
        (rotate at the KMS, rewrap every sidecar/footer via parquet-mr's
        ``KeyToolkit.rotateMasterKeys``, then retire). Derivation is
        deterministic per (key_id, version ordinal) so tests are
        reproducible; production would pull fresh random material."""
        versions = self._httpd.pme_key_versions.get(key_id)
        if versions is None:
            raise KeyError(f"unknown wrapping key {key_id!r}")
        import hashlib

        new = hashlib.sha256(
            f"demo-wrapping-key-{key_id}-v{len(versions)}".encode()
        ).digest()
        versions.append(new)
        self._httpd.pme_keys[key_id] = new

    def retire_old_versions(self, key_id: str) -> None:
        """Finish a rotation: forget every KEK version except the current.
        Blobs still wrapped under an old version (files whose key material
        was NOT rewrapped) become permanently unreadable — which is the
        point: retirement is the enforcement step that proves the rewrap
        actually covered the estate."""
        versions = self._httpd.pme_key_versions.get(key_id)
        if versions is None:
            raise KeyError(f"unknown wrapping key {key_id!r}")
        del versions[:-1]

    def shred(self, key_id: str) -> None:
        """Crypto-shredding: destroy the wrapping key's material on THIS
        server. Every DEK double-wrapped under it — in every file ever
        written against this KMS — becomes permanently unrecoverable, so
        deleting one key erases an entire data class without touching a
        single data file (the GDPR-erasure mechanism PME enables: map keys
        to tenants/users in production; this demo maps them to
        sensitivity levels). Subsequent wrap AND unwrap calls return 410
        Gone (vs 404 for a key that never existed). Irreversible by
        design — there is deliberately no ``unshred``."""
        try:
            del self._httpd.pme_keys[key_id]
        except KeyError:
            raise KeyError(f"unknown wrapping key {key_id!r}") from None
        self._httpd.pme_key_versions.pop(key_id, None)  # old versions too
        self._httpd.pme_shredded.add(key_id)

    def start(self) -> "KmsServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> str:
        self.start()
        return self.url

    def __exit__(self, *exc) -> None:
        self.stop()


_shared: KmsServer | None = None
_shared_lock = threading.Lock()


def shared_kms_url() -> str:
    """Process-wide singleton KMS (lazy): used when callers don't provide a
    KMS URL, e.g. the q60 registry query running inside the driver."""
    global _shared
    with _shared_lock:
        if _shared is None:
            _shared = KmsServer().start()
        return _shared.url
