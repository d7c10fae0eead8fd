"""Stdlib HTTP client for the engine's JSON/HTTP wire (``/v5/<Method>``).

One client is one closed loop on one persistent connection: it sends its next
request only after the previous response has been read to the last byte.
"""

from __future__ import annotations

import http.client
import json
import time
from urllib.parse import urlparse

TRACE_HEADER = "X-Perfbench-Trace"


class WireError(Exception):
    """A refused or failed request: HTTP error or a non-zero ``stat`` code."""


class WireClient:
    def __init__(self, address: str):
        u = urlparse(address)
        self.conn = http.client.HTTPConnection(u.hostname, u.port, timeout=120)

    def call(self, method: str, body: bytes, traced: bool = False):
        """POST one request; returns (latency_s, content_type, raw_body).
        Latency runs from send to the last byte of the response."""
        headers = {"Content-Type": "application/json"}
        if traced:
            headers[TRACE_HEADER] = "1"
        t0 = time.perf_counter()
        self.conn.request("POST", f"/v5/{method}", body, headers)
        r = self.conn.getresponse()
        raw = r.read()
        dt = time.perf_counter() - t0
        if r.status != 200:
            raise WireError(f"{method}: HTTP {r.status}")
        return dt, r.getheader("Content-Type", ""), raw

    def close(self) -> None:
        self.conn.close()


def encode(req: dict) -> bytes:
    return json.dumps(req, separators=(",", ":")).encode()


def messages(ctype: str, raw: bytes) -> list[dict]:
    """Decode a JSON or ndjson answer, raising on any non-zero stat."""
    if ctype.startswith("application/x-ndjson"):
        msgs = [json.loads(line) for line in raw.splitlines() if line]
    else:
        msgs = [json.loads(raw)]
    for m in msgs:
        code = m.get("stat", {}).get("code", 0)
        if code:
            raise WireError(f"stat {code}: {m['stat'].get('msg')}")
    return msgs


def arrow_table(ctype: str, raw: bytes):
    import pyarrow as pa

    if not ctype.startswith("application/vnd.apache.arrow.stream"):
        messages(ctype, raw)  # an error payload answers as JSON
        raise WireError(f"expected an Arrow stream, got {ctype}")
    return pa.ipc.open_stream(raw).read_all()
