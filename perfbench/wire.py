"""Client-side wire helpers: a small MessagePack encoder/decoder and an
HTTP client. Written apart from arc_spark's own codec so the benchmark's
inputs and its reading of responses do not share code with the program.
"""

from __future__ import annotations

import http.client
import json
import struct
import time

import numpy as np


# -- MessagePack encode ------------------------------------------------------

def _pack_str(s: str, out: bytearray) -> None:
    b = s.encode()
    n = len(b)
    if n < 32:
        out.append(0xA0 | n)
    elif n < 256:
        out += bytes((0xD9, n))
    else:
        out += b"\xda" + struct.pack(">H", n)
    out += b


def _array_header(n: int, out: bytearray) -> None:
    if n < 16:
        out.append(0x90 | n)
    else:
        out += b"\xdd" + struct.pack(">I", n)


def _pack_column(values, out: bytearray) -> None:
    if isinstance(values, np.ndarray):
        _array_header(len(values), out)
        if values.dtype.kind == "f":
            rec = np.empty(len(values), dtype=[("t", "u1"), ("v", ">f8")])
            rec["t"] = 0xCB
        else:
            rec = np.empty(len(values), dtype=[("t", "u1"), ("v", ">i8")])
            rec["t"] = 0xD3
        rec["v"] = values
        out += rec.tobytes()
        return
    _array_header(len(values), out)
    for v in values:
        _pack_str(v, out)


def columnar_payload(measurement: str, columns: dict, tags: list[str]) -> bytes:
    """{"m": measurement, "columns": {...}, "tags": [...]} — numeric
    columns as numpy arrays (float64 / int64), string columns as lists."""
    out = bytearray()
    out.append(0x83)
    _pack_str("m", out)
    _pack_str(measurement, out)
    _pack_str("columns", out)
    if len(columns) >= 16:
        raise ValueError("at most 15 columns per payload")
    out.append(0x80 | len(columns))
    for name, vals in columns.items():
        _pack_str(name, out)
        _pack_column(vals, out)
    _pack_str("tags", out)
    _array_header(len(tags), out)
    for t in tags:
        _pack_str(t, out)
    return bytes(out)


# -- MessagePack decode ------------------------------------------------------

def unpack(data: bytes):
    val, pos = _unpack(memoryview(data), 0)
    if pos != len(data):
        raise ValueError(f"trailing bytes at {pos}/{len(data)}")
    return val


def _unpack(mv, pos):  # noqa: C901 - one branch per type byte
    b = mv[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:
        n = b & 0x1F
        return bytes(mv[pos:pos + n]).decode(), pos + n
    if 0x90 <= b <= 0x9F:
        return _seq(mv, pos, b & 0x0F)
    if 0x80 <= b <= 0x8F:
        return _map(mv, pos, b & 0x0F)
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    fixed = {0xCA: ">f", 0xCB: ">d", 0xCC: ">B", 0xCD: ">H", 0xCE: ">I",
             0xCF: ">Q", 0xD0: ">b", 0xD1: ">h", 0xD2: ">i", 0xD3: ">q"}
    if b in fixed:
        fmt = fixed[b]
        n = struct.calcsize(fmt)
        return struct.unpack_from(fmt, mv, pos)[0], pos + n
    if b in (0xD9, 0xDA, 0xDB, 0xC4, 0xC5, 0xC6):
        w = {0xD9: 1, 0xDA: 2, 0xDB: 4, 0xC4: 1, 0xC5: 2, 0xC6: 4}[b]
        n = int.from_bytes(mv[pos:pos + w], "big")
        pos += w
        raw = bytes(mv[pos:pos + n])
        return (raw.decode() if b in (0xD9, 0xDA, 0xDB) else raw), pos + n
    if b in (0xDC, 0xDD):
        w = 2 if b == 0xDC else 4
        return _seq(mv, pos + w, int.from_bytes(mv[pos:pos + w], "big"))
    if b in (0xDE, 0xDF):
        w = 2 if b == 0xDE else 4
        return _map(mv, pos + w, int.from_bytes(mv[pos:pos + w], "big"))
    raise ValueError(f"unsupported msgpack type 0x{b:02x} at {pos - 1}")


def _seq(mv, pos, n):
    if n > 8 and mv[pos] in (0xCB, 0xD3):
        # fast path: an array of float64 or int64 values, 9 bytes each
        end = pos + 9 * n
        kind = ">f8" if mv[pos] == 0xCB else ">i8"
        if end <= len(mv):
            raw = np.frombuffer(mv[pos:end],
                                dtype=[("t", "u1"), ("v", kind)])
            if (raw["t"] == mv[pos]).all():
                return raw["v"].tolist(), end
    out = []
    for _ in range(n):
        v, pos = _unpack(mv, pos)
        out.append(v)
    return out, pos


def _map(mv, pos, n):
    out = {}
    for _ in range(n):
        k, pos = _unpack(mv, pos)
        v, pos = _unpack(mv, pos)
        out[k] = v
    return out, pos


def columnar_rows(body: bytes) -> dict[str, list]:
    """Decode a columnar msgpack query response into {column: values}."""
    doc = unpack(body)
    cols = {c: [] for c in doc["column_order"]}
    for fr in doc["frames"]:
        for c in cols:
            cols[c].extend(fr["columns"][c])
    return cols


def json_rows(body: bytes) -> tuple[list[str], list[list]]:
    """Decode a typed-JSON query response into (column names, rows)."""
    doc = json.loads(body)
    header, chunks = doc[0], doc[1:]
    names = [c["name"] for c in header["columns"]]
    rows = []
    for ch in chunks:
        rows.extend(ch["data"] if isinstance(ch, dict) else ch)
    return names, rows


# -- HTTP ---------------------------------------------------------------------

class Client:
    """One logical client connection. The server speaks HTTP/1.0, so each
    request opens a fresh TCP connection; requests on one Client are
    strictly sequential (closed loop)."""

    def __init__(self, port: int, token: str, timeout: float = 120.0):
        self.port = port
        self.token = token
        self.timeout = timeout

    def request(self, method: str, path: str, body: bytes = b"",
                headers: dict | None = None) -> tuple[int, bytes, float]:
        """(status, body, seconds) for one request, timed from connect to
        the last byte of the response."""
        h = {"Authorization": "Bearer " + self.token,
             "Content-Length": str(len(body))}
        if headers:
            h.update(headers)
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=self.timeout)
        try:
            conn.request(method, path, body=body, headers=h)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        return resp.status, data, time.perf_counter() - t0
