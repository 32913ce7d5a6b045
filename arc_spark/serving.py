"""Result serving: the reference's three wire formats from an Arrow table.

Reference: Arrow IPC streaming (A31 query_arrow.go), typed JSON streaming
(A32 query_json_writer.go), columnar MessagePack (A33). Every encoder
takes a ``pa.Table`` — the native scans' tables and the Spark path's
``DataFrame.toArrow()`` alike — and :func:`encode` is the one format
dispatch every query route calls, so both paths reach the wire through
the same code (SURVEY §4.3: "same shape over Arrow batches").
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pyarrow as pa

def encode(table: pa.Table, fmt: str):
    """``table`` in one wire shape: ``rows`` (list of Spark ``Row``, with
    the same naive local datetimes Spark's ``collect()`` returns),
    ``json`` (list of typed-JSON chunks), ``arrow`` (IPC stream bytes)
    or ``msgpack`` (columnar bytes)."""
    if fmt == "arrow":
        return to_arrow_ipc(table)
    if fmt == "msgpack":
        return to_columnar_msgpack(table)
    if fmt == "json":
        # a LIST, not the generator: every json consumer joins the chunks
        return list(stream_typed_json(table))
    if fmt == "rows":
        # how Spark's own collect() builds rows (list-valued __fields__)
        from pyspark.sql.types import _create_row

        names = table.column_names
        return [_create_row(names, vals)
                for vals in zip(*table_columns_spark_local(table))]
    raise ValueError(f"unknown fmt {fmt!r}")


def to_arrow_ipc(table: pa.Table, max_rows_per_batch: int = 65_536) -> bytes:
    """Arrow IPC stream bytes (the throughput-leader format — 9.49M rows/s
    in the reference's benchmark, BASELINE.md). An empty table still
    yields a valid schema-only stream with the table's own schema.

    64 Ki rows per batch (matching the session's
    ``arrow.maxRecordsPerBatch``): re-batching a 100k-row native scan at
    10k rows cost ~2 ms of extra slice/flush overhead per request —
    measured 5.6 → 3.6 ms for the encode at 64 Ki.

    The encode is PRESIZED into a single buffer:
    ``BufferOutputStream`` reallocates as it grows, which measured 2.8 ms
    for a 5.4 MB / 100k-row result vs 0.5 ms into a buffer preallocated
    from ``Table.get_total_buffer_size()`` (IPC bodies are the same
    buffers truncated to the slice + per-message flatbuffer headers, so
    the estimate only over-allocates). An estimate shortfall raises
    OSError("Write out of bounds") and falls back to the growing path —
    correctness never depends on the estimate."""
    return _table_ipc_presized(table, max_rows_per_batch)


def _ipc_size_estimate(table: pa.Table, n_batches: int) -> int:
    # per-message flatbuffer header + 8 B alignment pads, generously;
    # + schema message (field names/types) up front
    return (table.get_total_buffer_size()
            + 4096 * (n_batches + 2)
            + sum(len(n) for n in table.column_names) * 8)


def _table_ipc_presized(table: pa.Table,
                        max_rows_per_batch: int) -> bytes:
    """IPC-encode a pyarrow Table into one preallocated buffer; on an
    estimate shortfall (e.g. duplicate-chunk tables, whose shared buffers
    get_total_buffer_size counts ONCE but IPC writes per batch) the
    already-sliced batches are re-encoded through a growing buffer — no
    second ``to_batches`` pass, and the dead preallocation is freed
    before the retry allocates."""
    batches = table.to_batches(max_chunksize=max_rows_per_batch)
    buf = pa.allocate_buffer(_ipc_size_estimate(table, len(batches)))
    stream = pa.FixedSizeBufferWriter(buf)
    try:
        writer = pa.ipc.new_stream(stream, table.schema)
        for b in batches:
            writer.write_batch(b)
        writer.close()
        n = stream.tell()
    except OSError:
        del stream, buf
        sink = pa.BufferOutputStream()
        writer = pa.ipc.new_stream(sink, table.schema)
        for b in batches:
            writer.write_batch(b)
        writer.close()
        return sink.getvalue().to_pybytes()
    return buf[:n].to_pybytes()


def table_columns_spark_local(table: "pa.Table") -> list[list]:
    """Table → per-column Python lists with tz-aware timestamp columns
    converted to naive datetimes in the PROCESS's local timezone —
    exactly what Spark's ``collect()`` returns (TimestampType.
    fromInternal → ``datetime.fromtimestamp``, which applies local DST
    rules per value). The single tz-policy chokepoint for every native
    serving path that must match Spark row output (r8 review: two
    divergent copies existed, both assuming a UTC host)."""
    import datetime as _dt
    import time as _time

    # UTC hosts (this harness, most servers): the vectorized conversion
    # is exact; only a host with a non-UTC/DST locale needs per-value
    # datetime.astimezone to reproduce fromtimestamp's behavior
    utc_host = _time.timezone == 0 and _time.daylight == 0
    cols: list[list] = []
    for i, f in enumerate(table.schema):
        c = table.column(i)
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            if utc_host:
                import pyarrow.compute as pc

                cols.append(pc.local_timestamp(c).to_pylist())
            else:
                cols.append([
                    None if v is None
                    else v.astimezone().replace(tzinfo=None)
                    for v in c.to_pylist()])
        else:
            cols.append(c.to_pylist())
    return cols


def column_types(table: pa.Table) -> list[dict]:
    """{name, type} per column with the reference's 5-type mapping
    (query_json_writer.go:17-80 mapColumnType; decimals → float, everything
    else → string)."""
    out = []
    for f in table.schema:
        t = f.type
        if pa.types.is_boolean(t):
            m = "bool"
        elif pa.types.is_timestamp(t) or pa.types.is_date(t):
            m = "timestamp"
        elif pa.types.is_integer(t):
            m = "int"
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            m = "float"
        else:
            m = "string"
        out.append({"name": f.name, "type": m})
    return out


_TS_VEC_MIN_US = -30_610_224_000_000_000   # 1000-01-01: strftime %Y only
_TS_VEC_MAX_US = 253_402_300_799_999_999   # 9999-12-31: 4-digit-pads here


def _ascii_scan(arr) -> "tuple[bool, bool, bool]":
    """One numpy pass over a string array's DATA BUFFER: (all bytes in
    printable ASCII, any ``"`` byte, any ``\\`` byte). ~30× cheaper than
    a regex scan (0.16 vs 4.8 ms / 100k rows) because it never decodes
    UTF-8 — multi-byte chars have bytes ≥ 0x80 so they trip the max,
    control chars trip the min. Null slots' (undefined) bytes are
    scanned too, which can only produce a false *dirty* verdict — the
    slower exact path then runs — never a false clean."""
    import numpy as np

    bufs = arr.buffers()
    if len(arr) == 0 or bufs[1] is None or bufs[2] is None:
        return True, False, False
    width = 8 if pa.types.is_large_string(arr.type) else 4
    offs = np.frombuffer(
        bufs[1], dtype=np.int64 if width == 8 else np.int32,
        count=len(arr) + 1, offset=arr.offset * width)
    data = np.frombuffer(bufs[2], dtype=np.uint8,
                         count=int(offs[-1]))[int(offs[0]):]
    if data.size == 0:
        return True, False, False
    return (bool(0x20 <= data.min()) and bool(data.max() <= 0x7e),
            bool((data == 0x22).any()), bool((data == 0x5c).any()))


def _json_token_array(arr) -> "tuple[pa.Array, bool] | None":
    """(content, needs_quotes) for a column, as an Arrow string array —
    or None when this column needs the per-value ``json.dumps`` path
    (non-finite floats, exotic types, timestamps outside the
    4-digit-year range or finer than µs). ``needs_quotes=True`` means
    the caller must wrap each value in ``"`` — it merges them into the
    row join's constant separators, saving a whole-column
    materialization per quoted column; a null-bearing quoted column
    quotes internally instead (its nulls must print bare ``null``).
    Strings never decline: values needing ``\\uXXXX`` escapes (control
    or non-ASCII chars) are escaped per-VALUE on just the offending
    rows and scattered back into the vectorized column
    (``replace_with_mask``), so one emoji no longer sends 100k rows to
    the Python loop. Token text parses to exactly what ``json.dumps``
    emits; byte form may differ only in float exponent spelling
    (``1e-7`` vs ``1e-07`` — same parsed double)."""
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    tok = None
    quoted = False
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return None  # per-value path owns sub-µs semantics
        if t.unit != "us":
            arr = arr.cast(pa.timestamp("us", tz=t.tz))
        if t.tz is not None:
            # shift FIRST, guard on the shifted values: a tz offset can
            # carry an in-UTC-range value past year 9999 (5-digit year →
            # the fixed-offset 'T' splice would corrupt the token)
            arr = pc.local_timestamp(arr)
        if arr.null_count < len(arr):
            lo = pc.min(arr.cast(pa.int64())).as_py()
            hi = pc.max(arr.cast(pa.int64())).as_py()
            if lo < _TS_VEC_MIN_US or hi > _TS_VEC_MAX_US:
                return None
        # Arrow's timestamp→string cast emits "YYYY-MM-DD HH:MM:SS.ffffff"
        # ~25× faster than strftime (5 vs 132 ms / 100k); the year guard
        # above pins the year to 4 digits, so the 'T' goes at a FIXED
        # offset, and isoformat's omit-zero-fraction rule is a suffix trim
        s = pc.cast(arr, pa.string())
        s = pc.utf8_replace_slice(s, start=10, stop=11, replacement="T")
        zero = pc.ends_with(s, ".000000")
        if pc.any(zero).as_py():  # skip 2 kernels when no zero fractions
            trimmed = pc.utf8_replace_slice(s, start=-7, stop=1 << 30,
                                            replacement="")
            s = pc.if_else(zero, trimmed, s)
        tok, quoted = s, True
    elif pa.types.is_date(t):
        if arr.null_count < len(arr):
            days = pc.cast(arr, pa.date32()).cast(pa.int32())
            if (pc.min(days).as_py() < -354_285        # 1000-01-01
                    or pc.max(days).as_py() > 2_932_896):  # 9999-12-31
                return None  # 4-digit-year zero-padding not guaranteed
        s = pc.cast(arr, pa.string())  # "YYYY-MM-DD" ≡ date.isoformat()
        tok, quoted = s, True
    elif pa.types.is_integer(t):
        tok = pc.cast(arr, pa.string())
    elif pa.types.is_floating(t):
        finite = pc.fill_null(pc.is_finite(arr), True)
        if not pc.all(finite).as_py():
            return None  # json.dumps spells NaN/Infinity its own way
        # widen float32 first: Arrow would print the FLOAT32 shortest
        # repr ("0.1"), which parses to a different double than
        # json.dumps(float(v)) emits — float64 widening is exact, so
        # the double's shortest repr round-trips identically
        if t != pa.float64():
            arr = pc.cast(arr, pa.float64())
        # Arrow spells whole-number doubles as integers ("1"); the JSON
        # type must stay float ("1.0") — repair the integer-looking ones.
        # The numeric whole-value test gates the token scan entirely; the
        # scan itself is two PLAIN substring kernels, not the anchored
        # regex (r15, guide §4.2): non-finite values are already on the
        # per-value path, so a finite double's token is integer-looking
        # iff it contains neither '.' nor 'e' — measured 2.9 vs 4.3 ms /
        # 100k, and equivalence with the regex is fuzz-locked
        # (TestTypedJsonVectorizedEquivalence). The ".0" append then
        # touches ONLY the whole-valued rows via replace_with_mask
        # (building the joined column for all 100k rows cost 3.6 ms to
        # repair ~1k).
        any_whole = pc.any(pc.equal(pc.floor(arr), arr)).as_py()
        tok = pc.cast(arr, pa.string())
        if any_whole:
            intish = pc.fill_null(
                pc.invert(pc.or_(pc.match_substring(tok, "."),
                                 pc.match_substring(tok, "e"))), False)
            if pc.any(intish).as_py():
                repaired = pc.binary_join_element_wise(
                    tok.filter(intish), pa.scalar(".0"), "")
                tok = pc.replace_with_mask(tok, intish, repaired)
    elif pa.types.is_boolean(t):
        tok = pc.if_else(arr, pa.scalar("true"), pa.scalar("false"))
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        if pa.types.is_large_string(t):
            if arr.nbytes >= (1 << 31) - 1:
                return None  # genuinely >2 GiB: per-value path owns it
            arr = arr.cast(pa.string())  # 32-bit offsets: full kernel set
        clean, has_quote, has_backslash = _ascii_scan(arr)
        # backslash and quote escape vectorized (backslash FIRST);
        # json.dumps has no other printable-ASCII escapes. Each replace
        # pass runs only when its byte actually occurs in the buffer
        esc = arr
        if has_backslash:
            esc = pc.replace_substring(esc, pattern="\\",
                                       replacement="\\\\")
        if has_quote:
            esc = pc.replace_substring(esc, pattern='"',
                                       replacement='\\"')
        if clean:
            tok, quoted = esc, True
        else:
            # mixed column: \uXXXX-escape ONLY the offending rows with
            # json's own C escaper, scatter them back into the
            # vectorized result (values arrive fully quoted, so the
            # whole column switches to internal quoting)
            from json.encoder import encode_basestring_ascii

            needs_u = pc.fill_null(
                pc.match_substring_regex(arr, r"[^\x20-\x7e]"), False)
            tok = pc.binary_join_element_wise(
                pa.scalar('"'), esc, pa.scalar('"'), "")
            if pc.any(needs_u).as_py():
                repl = pa.array(
                    [encode_basestring_ascii(v)
                     for v in arr.filter(needs_u).to_pylist()],
                    type=pa.string())
                tok = pc.replace_with_mask(tok, needs_u, repl)
            quoted = False
    if tok is None:
        return None
    if arr.null_count:
        if quoted:
            tok = pc.binary_join_element_wise(pa.scalar('"'), tok,
                                              pa.scalar('"'), "")
            quoted = False
        tok = pc.if_else(pc.is_null(arr), pa.scalar("null"), tok)
    return tok, quoted


def _json_token_array_per_value(arr) -> pa.Array:
    """Per-value ``json.dumps`` tokens for a column the kernels declined
    — exactly the old row path's spelling (ensure_ascii escapes,
    NaN/Infinity, isoformat timestamps), one column instead of the
    whole result."""
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
        if (pa.types.is_timestamp(arr.type)
                and arr.type.tz is not None):
            arr = pc.local_timestamp(arr)
        return pa.array(
            ["null" if v is None else json.dumps(v.isoformat())
             for v in arr.to_pylist()], type=pa.string())
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        # the C escaper json.dumps itself uses — ~20× dumps() per value
        from json.encoder import encode_basestring_ascii

        return pa.array(
            ["null" if v is None else encode_basestring_ascii(v)
             for v in arr.to_pylist()], type=pa.string())
    return pa.array(
        ["null" if v is None else json.dumps(v)
         for v in arr.to_pylist()], type=pa.string())


def _typed_json_chunks_vectorized(table: pa.Table,
                                  flush_rows: int) -> "list[str]":
    """Data chunks for :func:`stream_typed_json` assembled column-wise:
    Arrow C kernels make the tokens wherever the column's values
    serialize identically to ``json.dumps`` (:func:`_json_token_array`),
    a per-value loop covers only the columns that decline, and the row
    join + chunk join stay vectorized either way — measured ~10× the
    per-row path on a 100k-row native serve."""
    import pyarrow.compute as pc

    if table.num_rows == 0:
        return []
    tokens = []
    for i in range(table.num_columns):
        got = _json_token_array(table.column(i))
        if got is None:
            got = (_json_token_array_per_value(table.column(i)), False)
        tokens.append(got)
    # ONE join builds each row: quoted columns' quote chars ride in the
    # constant separators (merged literals), so no per-column quote pass
    args: list = []
    lit = ""
    for j, (tok, quoted) in enumerate(tokens):
        lit += ("[" if j == 0 else ", ") + ('"' if quoted else "")
        args.append(pa.scalar(lit))
        args.append(tok)
        lit = '"' if quoted else ""
    args.append(pa.scalar(lit + "]"))
    rows = pc.binary_join_element_wise(*args, "")
    # chunk assembly stays in Arrow too: a list-array wrap + binary_join
    # concatenates each flush window in C (to_pylist of 100k row strings
    # + str.join was ~60 ms of the 100k-row serve; this is ~1 ms)
    import numpy as np

    n = len(rows)
    n_chunks = (n - 1) // flush_rows + 1
    offs = pa.array(
        np.arange(0, n + flush_rows, flush_rows,
                  dtype=np.int64)[:n_chunks + 1].clip(max=n),
        type=pa.int32())
    joined = pc.binary_join(
        pa.ListArray.from_arrays(offs, rows), ", ")
    return pc.binary_join_element_wise(
        pa.scalar('{"data": ['), joined, pa.scalar("]}\n"), "").to_pylist()


_JSON_ENC_POOL = None
_JSON_ENC_POOL_LOCK = __import__("threading").Lock()
# slice floor: below ~25k rows/slice the per-slice fixed cost goes backward
# (measurements at the slice-count comment in to_typed_json_stream); the
# parallel path only engages when it can cut ≥2 floor-sized slices —
# 32,768 as the gate put 32k–49k-row tables on the pool with exactly one
# slice (thread round-trip, zero parallelism; r10 advice).
_JSON_SLICE_FLOOR_ROWS = 24_576
_JSON_PAR_MIN_ROWS = 2 * _JSON_SLICE_FLOOR_ROWS


def _json_enc_pool():
    """Shared encode pool for slice-parallel JSON assembly. Arrow compute
    kernels are single-threaded per call but RELEASE the GIL, so N slices
    encode genuinely concurrently; the per-value fallback loops hold the
    GIL and simply serialize — correctness is unaffected either way.
    Init is locked: two concurrent first serves would otherwise each
    build an executor and leak the loser's threads for process life."""
    global _JSON_ENC_POOL
    if _JSON_ENC_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        with _JSON_ENC_POOL_LOCK:
            if _JSON_ENC_POOL is None:
                _JSON_ENC_POOL = ThreadPoolExecutor(
                    max_workers=8, thread_name_prefix="arc-json-enc")
    return _JSON_ENC_POOL


def stream_typed_json(table: pa.Table,
                      flush_rows: int = 1000) -> Iterator[str]:
    """Typed JSON chunks: header with column metadata, then row-array chunks
    (`data: [[...], ...]`) of ≤ ``flush_rows`` rows each. Memory is
    bounded by the governed result size (the query path caps rows before
    serving); the chunked wire shape is the reference's.

    The encode is VECTORIZED column-wise
    (:func:`_typed_json_chunks_vectorized`): Arrow kernels for every
    column whose values serialize identically to ``json.dumps``,
    per-value tokens only for columns that can't (escape-needing
    strings, NaN, exotic types) — parsed-value equivalence against the
    per-row ``json.dumps`` algorithm is property-tested."""
    yield json.dumps({"columns": column_types(table)}) + "\n"
    n = table.num_rows
    if n < _JSON_PAR_MIN_ROWS:
        yield from _typed_json_chunks_vectorized(table, flush_rows)
        return
    # slice-parallel encode: the whole pipeline (token kernels + row join
    # + chunk join) is single-threaded C per call, so a 100k-row serve ran
    # one core while 31 idled. Slices are FLUSH-ALIGNED (multiples of
    # flush_rows), so chunk boundaries — and therefore the wire bytes —
    # are identical to the serial encode, except that a column-level
    # kernel/per-value routing gate (NaN present, >2 GiB strings) may
    # resolve differently per slice; both paths are parse-equivalent by
    # the fuzzed contract. Zero-copy slices; results yielded in order.
    # Slice count: per-slice fixed cost (combine_chunks copy, column
    # gates, kernel dispatch) is ~5-8 ms, so slices below ~25k rows go
    # BACKWARD (measured on the 100k-row events serve: 4×25k = 26 ms,
    # 8×13k = 46 ms, 16×7k = 120 ms, serial = 55 ms warm). Floor the
    # slice size, cap the fan-out at 8.
    pool = _json_enc_pool()
    n_slices = min(8, max(2, n // _JSON_SLICE_FLOOR_ROWS))
    per = max(flush_rows,
              (-(-n // n_slices) + flush_rows - 1)
              // flush_rows * flush_rows)
    slices = [table.slice(off, min(per, n - off))
              for off in range(0, n, per)]
    for fut in [pool.submit(_typed_json_chunks_vectorized, s, flush_rows)
                for s in slices]:
        yield from fut.result()


def to_columnar_msgpack(table: pa.Table,
                        max_rows_per_batch: int = 65_536) -> bytes:
    """Columnar MessagePack: one list per column (one type-switch per column,
    not per row — the reference's A33 design point).

    The envelope ``{"frames": [{"columns": {...}, "n": k}, ...],
    "column_order": [...]}`` is assembled by hand so each column array can
    take :func:`pack_array_vectorized` — numpy bulk encode straight from
    the Arrow buffers; only columns that decline (nulls, long strings)
    pay the per-value packer. Byte layout differs from the naive
    ``packb`` only in numeric width choices — same decoded values.

    64 Ki rows per frame, matching the IPC batch choice (fewer
    per-frame vectorizer calls than the reference's 10k streaming flush:
    measured 16.2 → 12.7 ms on a 100k-row serve; consumers concat
    frames, so framing is not part of the value contract)."""
    from arc_spark.sources.msgpack_codec import _pack, pack_array_vectorized

    names = table.column_names
    batches = table.to_batches(max_chunksize=max_rows_per_batch)
    out = bytearray()
    out.append(0x82)  # 2-key map
    _pack("frames", out)
    _append_msgpack_array_header(len(batches), out)
    for batch in batches:
        out.append(0x82)
        _pack("columns", out)
        _pack_map_header(len(names), out)
        for i, name in enumerate(names):
            _pack(name, out)
            arr = batch.column(i)
            if pa.types.is_timestamp(arr.type):
                arr = arr.cast(pa.int64())  # epoch µs
            if not pack_array_vectorized(arr, out):
                _pack(arr.to_pylist(), out)
        _pack("n", out)
        _pack(batch.num_rows, out)
    _pack("column_order", out)
    _pack(list(names), out)
    return bytes(out)


def _pack_map_header(n: int, out: bytearray) -> None:
    import struct

    if n <= 15:
        out.append(0x80 | n)
    elif n <= 0xFFFF:
        out.append(0xDE)
        out += struct.pack(">H", n)
    else:
        out.append(0xDF)
        out += struct.pack(">I", n)


def _append_msgpack_array_header(n: int, out: bytearray) -> None:
    from arc_spark.sources.msgpack_codec import _append_array_header

    _append_array_header(n, out)
