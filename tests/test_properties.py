"""Property-based tests (hypothesis) for the ingest edges: msgpack codec
roundtrip, line-protocol escaping roundtrip, WAL framing, epoch
normalization monotonicity."""

from __future__ import annotations

import os as _os

from hypothesis import given, settings
from hypothesis import strategies as st

# r14 (verdict r13 #7): the two r13 suite-budget trims keep their
# trimmed counts by default, but ARC_FULL_FUZZ=1 restores the original
# example counts so the trimmed strategy space still gets exercised on
# a rotating schedule (run the suite with the knob set every few
# rounds; one full-count green run is committed per SCALING.md r14).
_FULL_FUZZ = _os.environ.get("ARC_FULL_FUZZ", "") not in ("", "0")

from arc_spark.sources.ingest import normalize_epoch_us
from arc_spark.sources.line_protocol import parse_line
from arc_spark.sources.msgpack_codec import packb, unpackb
from arc_spark.sources.wal import Wal

# msgpack values our codec supports (arc's wire types, SURVEY §1.2)
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=64),
    st.binary(max_size=64),
)
values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=8),
        st.dictionaries(st.text(max_size=16), children, max_size=8),
    ),
    max_leaves=24,
)


class TestMsgpackCodec:
    @settings(max_examples=200, deadline=None)
    @given(values)
    def test_roundtrip(self, v):
        assert unpackb(packb(v)) == v

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=0, max_value=2**64 - 1))
    def test_uint_boundaries(self, n):
        if n < 2**63:
            assert unpackb(packb(n)) == n


def _column_values(values):
    """Normalize a decoded column (list | ndarray | pa.Array) to a list."""
    import numpy as np
    import pyarrow as pa

    if isinstance(values, pa.Array):
        return values.to_pylist()
    if isinstance(values, np.ndarray):
        return values.tolist()
    return list(values)


class TestColumnarFastPathEquivalence:
    """The zero-object columnar decoder must be semantically identical to
    the generic decoder on EVERY payload it accepts — same values, same
    column order, same measurement/tags — across homogeneous runs, mixed
    types, unicode, nulls, and run-breaking type switches."""

    _cell = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=40),
    )

    @given(
        cols=st.dictionaries(
            st.text(
                alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
                min_size=1, max_size=8,
            ),
            st.one_of(
                st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                         min_size=0, max_size=60),
                st.lists(st.floats(allow_nan=False, allow_infinity=False,
                                   width=64), min_size=0, max_size=60),
                st.lists(st.text(max_size=20), min_size=0, max_size=60),
                st.lists(_cell, min_size=0, max_size=60),
            ),
            min_size=1, max_size=4,
        )
    )
    @settings(max_examples=120, deadline=None)
    def test_fast_decode_equals_generic(self, cols):
        from arc_spark.sources.msgpack_codec import unpack_columnar

        payload = packb({"m": "x", "columns": cols, "tags": []})
        fast = unpack_columnar(payload)
        generic = unpackb(payload)
        assert fast is not None
        assert fast["measurement"] == "x"
        assert set(fast["columns"]) == set(map(str, generic["columns"]))
        for k, v in generic["columns"].items():
            got = _column_values(fast["columns"][str(k)])
            assert got == v, (k, got[:5], v[:5])

    @given(st.binary(min_size=0, max_size=200))
    @settings(max_examples=120, deadline=None)
    def test_fast_decoder_never_diverges_on_garbage(self, blob):
        """Arbitrary bytes: unpack_columnar either returns None, raises like
        the generic decoder would, or agrees with it — never silently
        returns a DIFFERENT successful decode."""
        from arc_spark.sources.msgpack_codec import unpack_columnar

        try:
            fast = unpack_columnar(blob)
        except Exception:
            fast = "raised"
        try:
            generic = unpackb(blob)
        except Exception:
            generic = "raised"
        if fast in (None, "raised") or generic == "raised":
            return
        assert isinstance(generic, dict) and "columns" in generic
        for k, v in generic["columns"].items():
            assert _column_values(fast["columns"][str(k)]) == list(v)

    def test_str8_and_long_string_columns(self):
        from arc_spark.sources.msgpack_codec import unpack_columnar

        cols = {"s": ["x" * 40, "", "日本語テキスト", "y" * 31, "z" * 200]}
        payload = packb({"m": "x", "columns": cols, "tags": []})
        fast = unpack_columnar(payload)
        assert _column_values(fast["columns"]["s"]) == cols["s"]

    @given(st.lists(st.text(max_size=40), min_size=16, max_size=80))
    @settings(max_examples=60, deadline=None)
    def test_c_extract_equals_python_walk(self, vals):
        """The fused C walk+extract (arc_extract_str_column) and the pure-
        Python header walk must produce identical StringArrays — decoded
        with the accelerator forced ON, then forced OFF, same payload."""
        from arc_spark.sources import _cwalk
        from arc_spark.sources.msgpack_codec import unpack_columnar

        payload = packb({"m": "x", "columns": {"s": vals}, "tags": []})
        if _cwalk.native_extract() is None:
            return  # no compiler in this env: single-path, already fuzzed
        with_c = unpack_columnar(payload)
        saved = (_cwalk._walk, _cwalk._extract)
        _cwalk._walk = _cwalk._extract = None
        try:
            pure = unpack_columnar(payload)
        finally:
            _cwalk._walk, _cwalk._extract = saved
        assert _column_values(with_c["columns"]["s"]) == vals
        assert (_column_values(pure["columns"]["s"])
                == _column_values(with_c["columns"]["s"]))

    def test_c_extract_rejects_truncated_and_invalid_utf8(self):
        """Edge shapes through whichever path is active: a truncated string
        region and invalid-UTF-8 cells must fall back to the generic
        decoder's semantics (sanitize), never crash or mis-slice."""
        from arc_spark.sources.msgpack_codec import unpack_columnar

        good = packb({"m": "x", "columns": {"s": ["abc"] * 32}, "tags": []})
        assert unpack_columnar(good) is not None
        # chop mid-column: decoder must decline or raise, not mis-decode
        try:
            out = unpack_columnar(good[:-5])
        except Exception:
            out = None
        assert out is None or len(_column_values(out["columns"]["s"])) < 32
        # invalid UTF-8 inside a fixstr cell → generic path sanitizes
        bad = bytearray(good)
        idx = bad.rfind(b"abc")
        bad[idx:idx + 3] = b"\xff\xfe\xff"
        decoded = unpack_columnar(bytes(bad))
        vals = _column_values(decoded["columns"]["s"])
        assert len(vals) == 32 and vals[0] == "abc"

    def test_c_extract_capacity_enforced_before_copy(self):
        """r6 advisory regression: a column declaring n=32 cells while the
        buffer holds a single fixstr(31) under-sizes the heuristic out
        buffer (end-pos-n = 0) — the C loop must reject on the capacity
        check BEFORE copying any value bytes, leaving out untouched."""
        import numpy as np

        from arc_spark.sources import _cwalk

        extract = _cwalk.native_extract()
        if extract is None:
            return  # no compiler in this env; pure-Python path is bounds-safe
        # region: one fixstr(31) cell, then EOF — but caller claims n=32
        region = bytes([0xA0 | 31]) + b"A" * 31
        n = 32
        cap = max(len(region) - n, 0)  # the heuristic bound: 0 bytes
        assert cap == 0
        offsets = np.empty(n + 1, dtype=np.int32)
        guard = np.full(64, 0xEE, dtype=np.uint8)  # sentinel canary buffer
        p = extract(region, len(region), 0, n, cap,
                    offsets.ctypes.data, guard.ctypes.data)
        assert p == -1
        assert (guard == 0xEE).all(), "OOB write past declared capacity"
        # and the sized-correctly happy path still extracts
        p2 = extract(region, len(region), 0, 1, 31,
                     offsets.ctypes.data, guard.ctypes.data)
        assert p2 == len(region)
        assert bytes(guard[:31]) == b"A" * 31


class TestLineProtocolEscaping:
    @settings(max_examples=200, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(blacklist_characters="\\\n", min_codepoint=33),
            min_size=1, max_size=20,
        ),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    )
    def test_tag_value_escaping_roundtrip(self, tag_val, field_val):
        esc = tag_val.replace(",", r"\,").replace("=", r"\=").replace(" ", r"\ ")
        line = f"m,host={esc} v={field_val!r} 1700000000000000000"
        rec = parse_line(line)
        assert rec["tags"]["host"] == tag_val
        assert rec["fields"]["v"] == float(repr(field_val))

    @settings(max_examples=100, deadline=None)
    @given(st.integers(min_value=-(2**62), max_value=2**62 - 1))
    def test_integer_field_suffix(self, n):
        rec = parse_line(f"m v={n}i 1700000000000000000")
        assert rec["fields"]["v"] == n and isinstance(rec["fields"]["v"], int)

    _token = st.text(
        alphabet=st.characters(blacklist_characters='\\"\n,= ',
                               min_codepoint=33),
        min_size=1, max_size=12,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        _token,
        st.lists(st.tuples(_token, _token), max_size=3),
        st.lists(
            st.tuples(_token, st.one_of(
                st.floats(allow_nan=False, allow_infinity=False, width=32)
                  .map(lambda f: repr(f)),
                st.integers(-(2**62), 2**62 - 1).map(lambda n: f"{n}i"),
                st.sampled_from(["t", "f", "true", "false"]),
            )),
            min_size=1, max_size=3, unique_by=lambda kv: kv[0],
        ),
    )
    def test_fast_path_equals_full_parser(self, meas, tags, fields):
        """The no-escape fast path must accept exactly what the full parser
        accepts, with the identical record."""
        from arc_spark.sources.line_protocol import _parse_line_full

        tag_s = "".join(f",{k}={v}" for k, v in tags)
        field_s = ",".join(f"{k}={v}" for k, v in fields)
        line = f"{meas}{tag_s} {field_s} 1700000000000000000"
        assert parse_line(line) == _parse_line_full(line)

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=st.characters(blacklist_characters="\\\n\"",
                                          max_codepoint=0x7F),
                   max_size=40))
    def test_fast_path_rejects_what_full_rejects(self, line):
        """On arbitrary (escape-free) garbage both paths agree: same record
        or both raise."""
        from arc_spark.sources.line_protocol import (
            LineProtocolError, _parse_line_full,
        )

        try:
            got = parse_line(line)
        except LineProtocolError:
            got = "ERR"
        try:
            want = _parse_line_full(line)
        except LineProtocolError:
            want = "ERR"
        assert got == want


class TestSamplingProperties:
    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.integers(0, 10**9), min_size=1, max_size=40,
                    unique=True))
    def test_hash_bucket_matches_duckdb(self, ids):
        """The DuckDB spelling of the md5 bucket must match the reference
        computation (hashlib md5 — identical to Spark's md5/conv path,
        which the q48/q49 oracle tests pin end-to-end)."""
        import duckdb

        from arc_spark.functions.sampling import hash_bucket_sql

        con = duckdb.connect()
        sql = hash_bucket_sql("?")
        import hashlib
        for i in ids:
            want = int(hashlib.md5(f"split{i}".encode()).hexdigest()[:8], 16) % 10000
            got = con.execute(f"SELECT {sql}", [i]).fetchone()[0]
            assert got == want, i

    def test_mixture_monotone_in_rate(self, spark):
        """Raising the rate must only ADD rows (hash-threshold property):
        the kept set at rate r1 ⊆ kept set at r2 for r1 ≤ r2."""
        from pyspark.sql import functions as F

        from arc_spark.functions.sampling import mixture_filter

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        prev: set = set()
        for r in (0.1, 0.3, 0.7, 1.0):
            kept = {
                row["doc_id"]
                for row in df.filter(
                    mixture_filter("doc_id", F.lit(r))
                ).collect()
            }
            assert prev <= kept, f"rate {r} lost rows"
            prev = kept
        assert prev == set(range(2000))  # rate 1.0 keeps everything

    def test_hash_split_total_and_stable(self, spark):
        """Every row gets exactly one split; assignment is unchanged when
        computed over a subset (no dependence on partitioning/corpus)."""
        from arc_spark.functions.sampling import hash_split

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        full = {r["doc_id"]: r["s"] for r in
                df.select("doc_id", hash_split("doc_id").alias("s")).collect()}
        assert set(full.values()) <= {"train", "val", "test"}
        sub = {r["doc_id"]: r["s"] for r in
               df.filter("doc_id % 7 = 0").repartition(13)
                 .select("doc_id", hash_split("doc_id").alias("s")).collect()}
        assert all(full[k] == v for k, v in sub.items())


class TestWalProperties:
    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=512), min_size=1, max_size=20))
    def test_replay_returns_exactly_appended(self, payloads):
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            w = Wal(d, sync="none")
            for p in payloads:
                w.append(p)
            w.close()
            assert [p for _, p in Wal(d).replay()] == payloads


class TestEpochNormalization:
    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=10**9, max_value=4 * 10**9))
    def test_all_units_agree(self, sec):
        """The same instant expressed in s/ms/µs/ns must normalize
        identically (reference msgpack.go:435-505 magnitude heuristic)."""
        us = sec * 1_000_000
        assert normalize_epoch_us(sec) == us
        assert normalize_epoch_us(sec * 1_000) == us
        assert normalize_epoch_us(us) == us
        assert normalize_epoch_us(us * 1_000) == us


def test_hot_shingle_cap_bounds_candidate_pairs(spark):
    """Skew guard (round-1 VERDICT Wrong #2): one ultra-common shingle must
    not make the posting-list self-join quadratic. Every doc here shares a
    hot 3-gram prefix; with the default cap the hot posting list is dropped
    and only genuinely-similar pairs survive the join."""
    from pyspark.sql import functions as F

    from arc_spark.operators.dedup import ngram_jaccard_pairs, _shingled

    n = 60
    rows = [(i, "common hot prefix unique%d tail%d word%d end%d" % (i, i, i, i))
            for i in range(n)]
    # two genuinely near-dup docs
    rows.append((n, "common hot prefix alpha beta gamma delta epsilon"))
    rows.append((n + 1, "common hot prefix alpha beta gamma delta zeta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = ngram_jaccard_pairs(df, threshold=0.3, max_posting_list=10)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (n, n + 1) in got
    # without the hot shingle, unrelated docs share nothing above threshold
    assert len(got) <= 3

    # and the pruned posting list really is bounded: no shingle appears
    # more than the cap after the anti-join
    sh = _shingled(df, "doc_id", "text", 3)
    posting = sh.select("doc", F.explode("shingles").alias("s"))
    hot = posting.groupBy("s").count().filter(F.col("count") > 10)
    pruned = posting.join(F.broadcast(hot.select("s")), "s", "left_anti")
    mx = pruned.groupBy("s").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 10


class TestLpVectorizedEquivalence:
    """parse_chunk_vectorized must agree with the generic per-line parser
    on EVERY chunk it accepts (same values, same column order, same
    per-measurement grouping), and must decline (return None) rather than
    guess on anything irregular — the generic path stays the single
    source of truth for semantics and errors."""

    _name = st.text(alphabet="abcdefgh", min_size=1, max_size=5)
    _tagval = st.text(alphabet="xyz0123", min_size=0, max_size=5)

    @staticmethod
    def _canon(d):
        import pyarrow as pa

        out = {}
        for m, b in d.items():
            cols = {
                k: (v.to_pylist() if isinstance(v, pa.Array) else list(v))
                for k, v in b["columns"].items()
            }
            out[m] = (list(b["columns"].keys()), cols, tuple(b["tag_columns"]))
        return out

    @given(
        meas=st.lists(_name, min_size=1, max_size=2, unique=True),
        tag_keys=st.lists(_name, min_size=0, max_size=2, unique=True),
        field_specs=st.lists(
            st.tuples(_name, st.sampled_from(["f", "i", "b"])),
            min_size=1, max_size=3, unique_by=lambda t: t[0],
        ),
        n=st.integers(min_value=1, max_value=8),
        precision=st.sampled_from(["ns", "us", "ms", "s"]),
        with_ts=st.booleans(),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def test_uniform_payloads_take_fast_path_and_match(
        self, meas, tag_keys, field_specs, n, precision, with_ts, data
    ):
        from arc_spark.sources import line_protocol as lp

        lines = []
        for i in range(n):
            m = meas[i % len(meas)]
            head = ",".join(
                [m] + [f"{k}={data.draw(self._tagval)}" for k in tag_keys]
            )
            fields = []
            for fname, kind in field_specs:
                if kind == "f":
                    v = repr(
                        data.draw(st.floats(allow_nan=False,
                                            allow_infinity=False,
                                            width=32)))
                elif kind == "i":
                    v = str(data.draw(st.integers(-(2**40), 2**40))) + "i"
                else:
                    v = data.draw(st.sampled_from(["t", "true", "f", "False"]))
                fields.append(f"{fname}={v}")
            ts = f" {1700000000000 + i}" if with_ts else ""
            lines.append(f"{head} {','.join(fields)}{ts}")
        chunk = "\n".join(lines).encode()

        fast = lp.parse_chunk_vectorized(chunk, precision)
        orig = lp.parse_chunk_vectorized
        lp.parse_chunk_vectorized = lambda *a, **k: None
        try:
            gen = lp.parse_chunk_columnar(chunk, precision)
        finally:
            lp.parse_chunk_vectorized = orig
        # tag/field name collisions (incl. a tag named "time") legitimately
        # decline; everything else must take the fast path
        names = set(tag_keys) | {f for f, _ in field_specs}
        collides = (
            "time" in names
            or len(names) != len(tag_keys) + len(field_specs)
        )
        if not collides:
            assert fast is not None, "uniform payload fell off the fast path"
        if fast is not None:
            assert self._canon(fast) == self._canon(gen)

    def test_native_c_path_accepts_uniform_and_matches_kernels(self):
        """The r11 single-pass C scanner must ACCEPT the dominant wire
        shape (else it silently never fires and the fuzz proves nothing
        about it) and agree with the kernel path column-for-column —
        int/float/bool fields, tags, ns timestamps."""
        import pytest as _pytest

        import arc_spark.sources._clp as clp
        from arc_spark.sources import line_protocol as lp

        chunk = "\n".join(
            f"cpu,host=h{i % 64},dc=east usage={i % 100},"
            f"load={i % 7}.5,n={i}i,up={'t' if i % 2 else 'false'} "
            f"{1700000000000000000 + i * 10**9}"
            for i in range(2000)).encode()
        native = clp.parse_chunk_native(chunk, lp.PRECISION_TO_US["ns"])
        if clp._parse is None:
            _pytest.skip("no C compiler: kernel path is active")
        assert native is not None, "C path declined the dominant shape"
        orig = clp.parse_chunk_native
        clp.parse_chunk_native = lambda *a, **k: None
        try:
            kern = lp.parse_chunk_vectorized(chunk, "ns")
        finally:
            clp.parse_chunk_native = orig
        assert kern is not None
        assert self._canon(native) == self._canon(kern)

    @given(
        meas=_name,
        tag_keys=st.lists(_name, min_size=0, max_size=3, unique=True),
        field_specs=st.lists(
            st.tuples(_name, st.sampled_from(["f", "i", "b"])),
            min_size=1, max_size=4, unique_by=lambda t: t[0],
        ),
        n=st.integers(min_value=1, max_value=12),
        precision=st.sampled_from(["ns", "us", "ms", "s"]),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def test_native_random_uniform_schema_three_way(
        self, meas, tag_keys, field_specs, n, precision, data
    ):
        """Accept-side C-scanner fuzz (r11 advice): the garbage fuzz
        almost never GENERATES a chunk the scanner accepts (random text
        rarely repeats key sequences), so accepted-but-unusual shapes —
        signed/zero-padded ints, mixed bool token casings per line,
        exotic float spellings — rested on one fixed example. This
        composes random uniform schemas the way the kernel-vs-generic
        fuzz does and asserts C == kernel == generic on every chunk,
        plus MUST-ACCEPT for the strictly uniform sub-shape (single
        measurement, stable keys, non-empty tag values, timestamps)."""
        import arc_spark.sources._clp as clp
        from arc_spark.sources import line_protocol as lp

        if clp.parse_chunk_native(b"m f=1 1", 0.001) is None \
                and clp._parse is None:
            pytest.skip("no C compiler")
        bool_tokens = ["t", "T", "true", "True", "f", "F", "false", "False"]
        lines = []
        for i in range(n):
            head = ",".join(
                [meas] + [f"{k}={data.draw(self._tagval)}" for k in tag_keys]
            )
            fields = []
            for fname, kind in field_specs:
                if kind == "f":
                    v = repr(
                        data.draw(st.floats(allow_nan=False,
                                            allow_infinity=False,
                                            width=32)))
                elif kind == "i":
                    iv = data.draw(st.integers(-(2**60), 2**60))
                    if data.draw(st.booleans()):  # zero-padded spelling
                        v = f"{'-' if iv < 0 else ''}{abs(iv):012d}i"
                    else:
                        v = f"{iv}i"
                else:
                    v = data.draw(st.sampled_from(bool_tokens))
                fields.append(f"{fname}={v}")
            ts = 1700000000000 + i * 7  # fits int64 at every precision
            lines.append(f"{head} {','.join(fields)} {ts}")
        chunk = "\n".join(lines).encode()

        native = clp.parse_chunk_native(chunk, lp.PRECISION_TO_US[precision])
        names = set(tag_keys) | {f for f, _ in field_specs}
        collides = ("time" in names
                    or len(names) != len(tag_keys) + len(field_specs))
        # must-accept: strictly uniform, no collisions, every tag value
        # non-empty (empty values are a documented decline)
        empty_tag = any(
            part.endswith("=") for ln in lines
            for part in ln.split(" ", 1)[0].split(",")[1:])
        if not collides and not empty_tag:
            assert native is not None, "C declined a strictly uniform chunk"
        if native is None:
            return
        orig = clp.parse_chunk_native
        clp.parse_chunk_native = lambda *a, **k: None
        try:
            kern = lp.parse_chunk_vectorized(chunk, precision)
            orig_vec = lp.parse_chunk_vectorized
            lp.parse_chunk_vectorized = lambda *a, **k: None
            try:
                gen = lp.parse_chunk_columnar(chunk, precision)
            finally:
                lp.parse_chunk_vectorized = orig_vec
        finally:
            clp.parse_chunk_native = orig
        assert kern is not None, "C accepted a chunk the kernels decline"
        assert self._canon(native) == self._canon(kern)
        assert self._canon(native) == self._canon(gen)

    def test_ensure_built_is_threadsafe(self, tmp_path, monkeypatch):
        """r12 (r11 advice): the one-time cc build is lock-serialized —
        8 threads racing a COLD module must all end up with the same
        loaded library and the C path accepting, never a corrupt .so or
        a permanent silent fallback. Reload the module with a fresh
        cache dir so the build genuinely runs under contention."""
        import importlib
        from concurrent.futures import ThreadPoolExecutor

        import arc_spark.sources._clp as clp

        monkeypatch.setenv("ARC_CWALK_CACHE", str(tmp_path / "cache"))
        clp = importlib.reload(clp)
        if clp._parse is not None:
            raise AssertionError("reload must start unbuilt")
        chunk = b"m,a=x f=1,g=2 1700000000000000000\n" * 4
        with ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(
                lambda _: clp.parse_chunk_native(chunk, 0.001), range(8)))
        try:
            if clp._parse is None:
                pytest.skip("no C compiler")
            assert all(r is not None for r in results), \
                "a racing thread silently lost the fast path"
        finally:
            monkeypatch.undo()
            importlib.reload(clp)  # restore the shared-cache build

    def test_native_declines_extra_equals_less_tag(self):
        """r11 review catch: a bare ',' inside the LAST tag's value slot
        ("m,a=1,xyz f=1 1") absorbed an =-less extra tag into the value,
        where the generic parser REJECTS the line as malformed — the C
        scanner must decline the chunk, not invent a value."""
        import arc_spark.sources._clp as clp
        import pytest as _pytest

        if clp.parse_chunk_native(b"m,a=1 f=1 1", 0.001) is None \
                and clp._parse is None:
            _pytest.skip("no C compiler")
        chunk = (b"m,a=1 f=1 1700000000000000000\n"
                 b"m,a=1,xyz f=1 1700000000000000001\n")
        assert clp.parse_chunk_native(chunk, 0.001) is None
        # ...and the same shape in the FIELD section
        chunk2 = (b"m f=1 1700000000000000000\n"
                  b"m f=1,5 1700000000000000001\n")
        assert clp.parse_chunk_native(chunk2, 0.001) is None

    @given(
        payload=st.text(
            alphabet="abc,= .\n#0123456789if\\\"\rxyzé",
            max_size=120,
        ),
        precision=st.sampled_from(["ns", "us", "ms", "s"]),
    )
    @settings(max_examples=150, deadline=None)
    def test_native_garbage_never_diverges_from_kernels(self, payload,
                                                        precision):
        """The C scanner on arbitrary bytes: decline, or produce exactly
        the kernel result — never crash, never accept what the kernels
        reject differently."""
        import arc_spark.sources._clp as clp
        from arc_spark.sources import line_protocol as lp

        chunk = payload.encode()
        native = clp.parse_chunk_native(chunk, lp.PRECISION_TO_US[precision])
        if native is None:
            return
        orig = clp.parse_chunk_native
        clp.parse_chunk_native = lambda *a, **k: None
        try:
            kern = lp.parse_chunk_vectorized(chunk, precision)
        finally:
            clp.parse_chunk_native = orig
        assert kern is not None, "C accepted a chunk the kernels decline"
        assert self._canon(native) == self._canon(kern)

    @given(
        payload=st.text(
            alphabet='abc,= "\\\n#01.iu\t', min_size=0, max_size=200
        ),
        precision=st.sampled_from(["ns", "us", "ms", "s"]),
    )
    @settings(max_examples=120, deadline=None)
    def test_arbitrary_garbage_never_diverges(self, payload, precision):
        """On arbitrary input the fast path either declines, or produces
        exactly the generic result; it must never raise a non-LP error
        and never accept what the generic parser rejects."""
        from arc_spark.sources import line_protocol as lp

        chunk = payload.encode()
        fast = lp.parse_chunk_vectorized(chunk, precision)
        if fast is None:
            return
        orig = lp.parse_chunk_vectorized
        lp.parse_chunk_vectorized = lambda *a, **k: None
        try:
            try:
                gen = lp.parse_chunk_columnar(chunk, precision)
            except lp.LineProtocolError:
                raise AssertionError(
                    "fast path accepted a chunk the generic parser rejects")
        finally:
            lp.parse_chunk_vectorized = orig
        assert self._canon(fast) == self._canon(gen)


class TestPackArrayVectorized:
    """The bulk Arrow-column msgpack encoder must decode to exactly the
    values the generic per-value packer produces, or decline and append
    NOTHING. Byte layouts may differ (fixed-width numerics); values may
    not."""

    @given(
        vals=st.one_of(
            st.lists(st.integers(-(2**63), 2**63 - 1), max_size=40),
            st.lists(st.floats(allow_nan=False, width=64), max_size=40),
            st.lists(st.booleans(), max_size=40),
            st.lists(st.text(max_size=300), max_size=40),
            st.lists(st.one_of(st.none(), st.integers(-100, 100)),
                     max_size=40),
        ),
        slice_from=st.integers(0, 5),
    )
    @settings(max_examples=150, deadline=None)
    def test_decode_equivalence_or_clean_decline(self, vals, slice_from):
        import pyarrow as pa

        from arc_spark.sources.msgpack_codec import (
            _pack, pack_array_vectorized, unpackb,
        )

        arr = pa.array(vals)
        if slice_from and slice_from < len(arr):
            arr = arr.slice(slice_from)  # nonzero offset exercises buffers
        out = bytearray()
        took = pack_array_vectorized(arr, out)
        if not took:
            assert out == bytearray(), "decline must append nothing"
            return
        ref = bytearray()
        _pack(arr.to_pylist(), ref)
        assert unpackb(bytes(out)) == unpackb(bytes(ref))

    @given(
        vals=st.lists(st.text(max_size=120), max_size=60),
        slice_from=st.integers(0, 5),
    )
    @settings(max_examples=80, deadline=None)
    def test_c_string_pack_byte_identical_to_numpy(self, vals, slice_from):
        """r12: the C string-column encoder (arc_pack_str_column) must be
        BYTE-identical to the numpy scatter path it replaces — not just
        value-equivalent — so decoder run-detection, wire hashes, and any
        consumer comparing payloads see one encoding regardless of
        whether the accelerator built. Mixed fixstr/str8 widths, empty
        strings, multi-byte UTF-8, and nonzero Arrow offsets all ride
        the same example stream."""
        import pyarrow as pa

        import arc_spark.sources._cwalk as cw
        from arc_spark.sources.msgpack_codec import pack_array_vectorized

        if cw.native_pack_str() is None:
            pytest.skip("no C compiler: numpy path is the only path")
        arr = pa.array(vals, type=pa.string())
        if slice_from and slice_from < len(arr):
            arr = arr.slice(slice_from)
        out_c = bytearray()
        took_c = pack_array_vectorized(arr, out_c)
        orig = cw._pack_str
        cw._pack_str = None
        try:
            out_np = bytearray()
            took_np = pack_array_vectorized(arr, out_np)
        finally:
            cw._pack_str = orig
        assert took_c == took_np
        assert bytes(out_c) == bytes(out_np)

    def test_timestamp_and_chunked(self):
        import pyarrow as pa

        from arc_spark.sources.msgpack_codec import (
            pack_array_vectorized, unpackb,
        )

        ts = pa.chunked_array([
            pa.array([1, 2], type=pa.timestamp("us")),
            pa.array([3], type=pa.timestamp("us")),
        ])
        out = bytearray()
        assert pack_array_vectorized(ts, out)
        assert unpackb(bytes(out)) == [1, 2, 3]


class TestAckCountEquivalence:
    """count_rows / count_lines (the deferred ack path's header/byte-walk
    counters) must agree with what the full decode yields."""

    @given(st.lists(st.tuples(
        st.integers(0, 10**15),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=8)), min_size=0, max_size=50))
    @settings(max_examples=60, deadline=None)
    def test_columnar_count_matches_decode(self, rows):
        from arc_spark.sources.ingest import decode_msgpack_payload
        from arc_spark.sources.msgpack_codec import count_rows

        payload = packb({
            "m": "cpu",
            "columns": {
                "time": [t for t, _, _ in rows],
                "v": [v for _, v, _ in rows],
                "s": [s for _, _, s in rows],
            },
            "tags": [],
        })
        got = count_rows(payload)
        decoded = decode_msgpack_payload(payload)
        want = (len(decoded["columns"]["time"])
                if decoded["columns"] else 0)
        assert got == want

    def test_deeply_nested_payload_degrades_to_unknown(self):
        """A map value of ~4000 nested array headers (repeated 0x91)
        makes _skip recurse past the interpreter limit; count_rows must
        yield the documented 'count unknown' None, not a RecursionError
        escaping into the deferred ack path (round-4 advice)."""
        import sys

        from arc_spark.sources.msgpack_codec import count_rows

        depth = sys.getrecursionlimit() + 3000
        bomb = b"\x91" * depth + b"\xc0"  # [[[...nil...]]]
        # {"x": <bomb>} — the header walk must _skip the nested value
        assert count_rows(b"\x81\xa1x" + bomb) is None

    @given(st.lists(st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(allow_nan=False, allow_infinity=False),
        min_size=1, max_size=3), min_size=1, max_size=30))
    @settings(max_examples=40, deadline=None)
    def test_batch_count_matches_decode(self, fields_list):
        from arc_spark.sources.msgpack_codec import count_rows

        rows = [{"m": "cpu", "t": 1700000000000000 + i, "fields": f}
                for i, f in enumerate(fields_list)]
        assert count_rows(packb({"batch": rows})) == len(rows)
        assert count_rows(packb(rows)) == len(rows)

    @given(st.lists(st.sampled_from([
        "cpu,host=a v=1 1700000000000000000",
        "mem,host=b used=2 1700000001000000000",
        "# a comment",
        "   ",
        "",
        "\t# indented comment",
        "disk free=9",
    ]), min_size=0, max_size=60),
        st.sampled_from(["\n", "\r\n"]),
        st.booleans())
    @settings(max_examples=80, deadline=None)
    def test_lp_count_matches_parse_batch(self, lines, sep, trailing):
        from arc_spark.sources.line_protocol import count_lines, parse_batch

        text = sep.join(lines) + (sep if trailing and lines else "")
        payload = text.encode()
        want = len(parse_batch(text))
        assert count_lines(payload) == want


class TestTimeRangeLiteralEquivalence:
    """The native time-range serving paths (r8) must agree with Spark's
    ANSI string→timestamp cast on every literal they ACCEPT — a literal
    our parser reads differently from Spark silently serves different
    rows per path. Fuzzes generated datetimes across all accepted
    surface forms and batch-verifies against Spark's own CAST."""

    @settings(max_examples=30, deadline=None)
    @given(st.lists(
        st.tuples(
            st.datetimes(
                min_value=__import__("datetime").datetime(1971, 1, 1),
                max_value=__import__("datetime").datetime(2200, 1, 1)),
            st.sampled_from(["date", "seconds", "micros", "t_sep",
                             "offset", "z"]),
        ), min_size=1, max_size=8))
    def test_accepted_literals_match_spark_cast(self, spark, pairs):
        import datetime as dt

        from pyspark.sql import functions as F

        from arc_spark.api import _parse_ts_literal

        lits = []
        for d, form in pairs:
            d = d.replace(microsecond=d.microsecond
                          if form == "micros" else 0)
            if form == "date":
                lit = d.strftime("%Y-%m-%d")
            elif form == "seconds":
                lit = d.strftime("%Y-%m-%d %H:%M:%S")
            elif form == "micros":
                lit = d.strftime("%Y-%m-%d %H:%M:%S.%f")
            elif form == "t_sep":
                lit = d.strftime("%Y-%m-%dT%H:%M:%S")
            elif form == "offset":
                lit = d.strftime("%Y-%m-%d %H:%M:%S+02:00")
            else:
                lit = d.strftime("%Y-%m-%dT%H:%M:%SZ")
            lits.append(lit)
        ours = [_parse_ts_literal(lit) for lit in lits]
        assert all(v is not None for v in ours), (lits, ours)
        row = spark.range(1).select(*[
            F.unix_micros(F.expr(
                f"CAST('{lit}' AS TIMESTAMP)")).alias(f"c{i}")
            for i, lit in enumerate(lits)]).first()
        theirs = [row[f"c{i}"] for i in range(len(lits))]
        assert ours == theirs, list(zip(lits, ours, theirs))

    @settings(max_examples=60, deadline=None)
    @given(st.text(min_size=1, max_size=30))
    def test_garbage_literals_rejected_not_misread(self, junk):
        """Arbitrary text either fails our strict gate (→ Spark path owns
        the semantics) or parses to the same instant fromisoformat gives
        — never a silent different reading."""
        import datetime as _dt

        from arc_spark.api import _parse_ts_literal

        got = _parse_ts_literal(junk)
        if got is None:
            return
        d = _dt.datetime.fromisoformat(junk.strip())
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        assert got == (d - epoch) // _dt.timedelta(microseconds=1)


class TestNativeSqlTimeRangeE2E:
    """Full-pipeline fuzz of the native SQL time-range serving path
    (api.QueryService._native_timerange → catalog.scan_arrow): for
    RANDOM range bounds, comparison shapes, and limits, the native
    answer must be value-identical to the same query forced onto the
    Spark engine path. The literal fuzz above pins parsing; this pins
    the whole serve (prefix pruning, row-group predicate, LIMIT stop,
    wire conversion)."""

    _svc = None

    @classmethod
    def _service(cls, spark, tmp_path_factory=None):
        if cls._svc is not None:
            return cls._svc
        import tempfile

        from arc_spark.api import IngestService, QueryService
        from arc_spark.catalog import MeasurementCatalog

        root = tempfile.mkdtemp(prefix="arc_tr_fuzz_")
        ing = IngestService(spark, root, max_buffer_rows=100_000,
                            max_buffer_age_s=3600)
        # 240 rows across 10 days, one per hour, distinct times
        base_ns = 1_700_000_000_000_000_000
        lines = "\n".join(
            f"cpu,host=h{i % 7} usage={i / 10} "
            f"{base_ns + i * 3_600_000_000_000}"
            for i in range(240))
        ing.write_line_protocol("metrics", lines.encode())
        ing.flush()
        cat = MeasurementCatalog(spark, root)
        svc = QueryService(spark, cat)
        svc.register_measurement("metrics", "cpu", view="cpu")
        cls._svc = svc
        return svc

    # r13 suite-budget trim (verdict r12 #8): 25 -> 12 — the
    # range-shape space overlaps tests/test_serve_fuzz.py's
    # uniform-schema e2e fuzz, which drives the same native
    # path through a live server per round. ARC_FULL_FUZZ=1
    # restores the full count (r14 rotating-schedule knob).
    @settings(max_examples=25 if _FULL_FUZZ else 12, deadline=None)
    @given(
        st.integers(min_value=-30, max_value=270),   # start hour offset
        st.integers(min_value=-30, max_value=270),   # end hour offset
        st.sampled_from([">=", ">= <", "BETWEEN", ">= <=",
                         "nofilter"]),
        st.sampled_from([5, 50, 10_000]),
    )
    def test_native_matches_spark_engine(self, spark, h0, h1, shape,
                                         limit):
        import datetime as dt

        svc = self._service(spark)
        base = dt.datetime(2023, 11, 14, 22, 13, 20)  # 1.7e9 epoch s
        t0 = (base + dt.timedelta(hours=min(h0, h1))).strftime(
            "%Y-%m-%d %H:%M:%S")
        t1 = (base + dt.timedelta(hours=max(h0, h1))).strftime(
            "%Y-%m-%d %H:%M:%S")
        if shape == ">=":
            cond = f"time >= '{t0}'"
        elif shape == ">= <":
            cond = f"time >= '{t0}' AND time < '{t1}'"
        elif shape == ">= <=":
            cond = f"time >= '{t0}' AND time <= '{t1}'"
        elif shape == "BETWEEN":
            cond = f"time BETWEEN '{t0}' AND '{t1}'"
        else:
            cond = None  # the filterless SELECT-LIMIT shape (4-node plan)
        where = f"WHERE {cond} " if cond else ""
        sql = f"SELECT * FROM cpu {where}LIMIT {limit}"
        assert svc._native_timerange(sql, None) is not None, sql
        native = svc.execute(sql)
        # a non-time predicate forces the Spark engine path; usage is
        # always finite here so the predicate is a tautology
        tauto = ("AND" if cond else "WHERE") + " usage >= -1e9"
        spark_rows = svc.execute(sql.replace(
            f"LIMIT {limit}", f"{tauto} LIMIT {limit}"))
        key = lambda r: tuple(str(v) for v in r)  # noqa: E731
        full = {key(r) for r in svc.execute(
            f"SELECT * FROM cpu {where}{tauto} LIMIT 100000")}
        n_match = len(full)
        assert len(native) == len(spark_rows) == min(limit, n_match)
        assert native and list(native[0].__fields__) == \
            list(spark_rows[0].__fields__) if native else True
        # LIMIT below the match count: any n_match-subset is legal per
        # SQL; both paths must still draw from the true match set
        assert {key(r) for r in native} <= full
        assert {key(r) for r in spark_rows} <= full
        if limit >= n_match:
            assert {key(r) for r in native} == full


class TestTypedJsonVectorizedEquivalence:
    """The vectorized column-wise typed-JSON encode must parse to exactly
    what the per-value json.dumps path emits, for every column shape it
    ACCEPTS — and decline (whole-result fallback) on everything else,
    never serving a divergent spelling of a value."""

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def test_parsed_equivalence(self, data):
        import datetime as dt
        import json as _json

        import pyarrow as pa

        from arc_spark import serving

        n = data.draw(st.integers(min_value=0, max_value=40))
        cols, names = [], []
        kinds = data.draw(st.lists(
            st.sampled_from(["i", "f", "b", "s", "ts", "tsz", "d"]),
            min_size=1, max_size=4))
        for j, kind in enumerate(kinds):
            names.append(f"c{j}_{kind}")
            opt = lambda s: st.one_of(st.none(), s)  # noqa: E731
            if kind == "i":
                vals = data.draw(st.lists(
                    opt(st.integers(-2**62, 2**62)), min_size=n,
                    max_size=n))
                cols.append(pa.array(vals, type=pa.int64()))
            elif kind == "f":
                vals = data.draw(st.lists(
                    opt(st.floats(allow_nan=True, allow_infinity=True,
                                  width=64)),
                    min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.float64()))
            elif kind == "b":
                vals = data.draw(st.lists(opt(st.booleans()),
                                          min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.bool_()))
            elif kind == "s":
                vals = data.draw(st.lists(
                    opt(st.text(max_size=12)), min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.string()))
            elif kind == "ts":
                # python datetime range (the per-value reference path
                # OverflowErrors outside it — pre-existing limit);
                # straddles the vectorized path's year-1000 decline
                # boundary so both regimes are drawn
                vals = data.draw(st.lists(opt(st.integers(
                    -62_135_596_800_000_000, 253_402_300_799_999_999)),
                    min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.timestamp("us")))
            elif kind == "tsz":
                # tz-AWARE column with an extreme (+14h) offset: the
                # local shift must be applied BEFORE the year-range
                # guard (a +14h shift can carry an in-UTC-range value
                # past year 9999 — r8 review finding). Bounds keep the
                # SHIFTED value datetime-representable both ways (the
                # reference per-value path OverflowErrors outside,
                # pre-existing), while straddling the decline boundary
                off = 14 * 3_600_000_000
                vals = data.draw(st.lists(opt(st.integers(
                    -62_135_596_800_000_000 + off,
                    253_402_300_799_999_999 - off)),
                    min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.timestamp(
                    "us", tz="Pacific/Kiritimati")))
            else:
                # date32 days, python date range, straddling the
                # vectorized year-1000 decline boundary
                vals = data.draw(st.lists(opt(st.integers(
                    -719_162, 2_932_896)), min_size=n, max_size=n))
                cols.append(pa.array(vals, type=pa.date32()))
        table = pa.table(dict(zip(names, cols)))

        def rows_of(chunks):
            out = []
            for c in chunks[1:]:
                out.extend(_json.loads(c)["data"])
            return out

        fast_chunks = list(serving.stream_typed_json(table, flush_rows=7))
        # independent oracle: the pre-vectorization per-row algorithm
        # (local-timestamp isoformat, to_pylist, zip, json.dumps)
        import pyarrow.compute as pc
        slow_chunks = [_json.dumps(
            {"columns": serving.column_types(table)}) + "\n"]
        for batch in table.to_batches(max_chunksize=7):
            pylists = []
            for i in range(batch.num_columns):
                arr = batch.column(i)
                if (pa.types.is_timestamp(arr.type)
                        or pa.types.is_date(arr.type)):
                    if (pa.types.is_timestamp(arr.type)
                            and arr.type.tz is not None):
                        arr = pc.local_timestamp(arr)
                    pylists.append([None if v is None else v.isoformat()
                                    for v in arr.to_pylist()])
                else:
                    pylists.append(arr.to_pylist())
            slow_chunks.append(_json.dumps(
                {"data": list(zip(*pylists))}) + "\n")
        assert fast_chunks[0] == slow_chunks[0]

        def norm(rows):
            # NaN != NaN; normalize for comparison (the vectorized path
            # DECLINES non-finite columns, so both sides here came off
            # the same per-value encoder). TYPE-tagged: 1 (int) ==
            # 1.0 (float) in Python, which hid a whole-double-spelled-
            # as-integer bug — the parsed JSON type is part of the wire
            # contract
            return [[(type(v).__name__,
                      "NaN" if isinstance(v, float) and v != v else v)
                     for v in r] for r in rows]
        assert norm(rows_of(fast_chunks)) == norm(rows_of(slow_chunks))

    def test_slice_parallel_byte_identical(self):
        """r10: tables at/above _JSON_PAR_MIN_ROWS encode slice-parallel
        on the shared pool; flush alignment must keep the wire bytes
        identical to the serial encoder (not merely parse-equivalent) —
        including the uneven tail slice and null runs."""
        import pyarrow as pa

        from arc_spark import serving

        # 2× the parallel floor + a ragged remainder: n // 24_576 must be
        # ≥ 2 so the encode actually SPLITS (at min_rows + 4_321 the slice
        # count resolved to 1 and the test compared serial to serial —
        # r10 review) and the tail slice is shorter than the others
        n = serving._JSON_PAR_MIN_ROWS * 2 + 4_321
        table = pa.table({
            "i": pa.array([None if v % 97 == 0 else v - 5_000
                           for v in range(n)], type=pa.int64()),
            "f": pa.array([v / 7.0 if v % 3 else float(v)
                           for v in range(n)], type=pa.float64()),
            "s": pa.array([None if v % 89 == 0 else f'v"{v}\\x'
                           for v in range(n)], type=pa.string()),
            "ts": pa.array([1_700_000_000_000_000 + v * 1_000_000
                            for v in range(n)], type=pa.timestamp("us")),
        })
        serial = serving._typed_json_chunks_vectorized(table, 1000)
        par = list(serving.stream_typed_json(table, flush_rows=1000))[1:]
        assert par == serial


class TestMinhashNumpyDifferential:
    """r12: _signatures_from_shingled defaults to a vectorized numpy
    XXH64 (mapInPandas) — stored indexes, band buckets, and streaming
    state all depend on the signatures being BIT-IDENTICAL to the
    Catalyst transform()/array_min() expression, so the two paths are
    differentially fuzzed (random docs incl. <k-word NULL rows, random
    num_hashes, negative/extreme word hashes via real text)."""

    @settings(max_examples=10, deadline=None)
    @given(st.data())
    def test_numpy_equals_expr_bitwise(self, spark, data):
        import os

        import arc_spark.operators.dedup as dd

        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "x",
                 "longword" * 4, "Ünïcødé", "7", ""]
        n_docs = data.draw(st.integers(min_value=1, max_value=12))
        rows = []
        for i in range(n_docs):
            words_ = data.draw(st.lists(
                st.sampled_from(vocab), min_size=0, max_size=10))
            rows.append((i, " ".join(words_)))
        num_hashes = data.draw(st.sampled_from([1, 4, 64, 128]))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dd._shingled(docs, "doc_id", "text", 3)

        def grab(impl):
            old = os.environ.get("ARC_MINHASH_IMPL")
            os.environ["ARC_MINHASH_IMPL"] = impl
            try:
                return {
                    r["doc"]: (tuple(r["sig"]) if r["sig"] is not None
                               else None, r["sz"])
                    for r in dd._signatures_from_shingled(
                        sh, num_hashes).collect()
                }
            finally:
                if old is None:
                    os.environ.pop("ARC_MINHASH_IMPL", None)
                else:
                    os.environ["ARC_MINHASH_IMPL"] = old

        assert grab("numpy") == grab("expr")


class TestKernelBucketsDifferential:
    """r14: _bucket_rows_from_shingled defaults to band buckets computed
    INSIDE the numpy signature kernel (chained XXH64.hashLong, seed 42).
    minhash_lsh_pairs' candidate generation rides these buckets, and
    they must stay BIT-IDENTICAL to the sig + Catalyst-band composition
    (the xxhash64(slot, ..., slot) transform) — index rows and query
    rows built by different paths/releases must still join. Fuzzes
    random docs (incl. <k-word NULL rows), both r=2 and r=3 band
    geometries, against the ARC_LSH_BUCKET_SRC=sig oracle path."""

    @settings(max_examples=10 if _FULL_FUZZ else 6, deadline=None)
    @given(st.data())
    def test_kernel_buckets_equal_expr_band_rows(self, spark, data):
        import os

        import arc_spark.operators.dedup as dd

        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
                 "longword" * 4, "Ünïcødé", "7", ""]
        n_docs = data.draw(st.integers(min_value=1, max_value=12))
        rows = []
        for i in range(n_docs):
            words_ = data.draw(st.lists(
                st.sampled_from(vocab), min_size=0, max_size=10))
            rows.append((i, " ".join(words_)))
        num_hashes, bands = data.draw(st.sampled_from(
            [(8, 4), (128, 64), (12, 4), (6, 6)]))  # r = 2, 2, 3, 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dd._shingled(docs, "doc_id", "text", 3)

        def grab(src):
            old = os.environ.get("ARC_LSH_BUCKET_SRC")
            os.environ["ARC_LSH_BUCKET_SRC"] = src
            try:
                return sorted(
                    map(tuple, dd._bucket_rows_from_shingled(
                        sh, num_hashes, bands).collect()))
            finally:
                if old is None:
                    os.environ.pop("ARC_LSH_BUCKET_SRC", None)
                else:
                    os.environ["ARC_LSH_BUCKET_SRC"] = old

        assert grab("kernel") == grab("sig")

    def test_bad_band_geometry_raises(self, spark):
        """ADVICE r14: bands > num_hashes silently degenerated the
        kernel path (r_per == 0 -> every doc at seed bucket 42 in every
        band, O(n²) candidate blowup) while the sig path failed loudly.
        Both band consumers now raise ValueError up front."""
        import pytest

        import arc_spark.operators.dedup as dd

        docs = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id long, text string")
        sh = dd._shingled(docs, "doc_id", "text", 3)
        for bad_hashes, bad_bands in ((8, 16), (8, 0), (8, -1)):
            with pytest.raises(ValueError, match="band geometry"):
                dd._bucket_rows_from_shingled(sh, bad_hashes, bad_bands)
            with pytest.raises(ValueError, match="band geometry"):
                dd.minhash_lsh_pairs(
                    docs, num_hashes=bad_hashes, bands=bad_bands)
            with pytest.raises(ValueError, match="band geometry"):
                dd.dedup_against_index(
                    docs, dd.minhash_index(docs),
                    num_hashes=bad_hashes, bands=bad_bands)


class TestIncrementalDedupDifferential:
    """r9: dedup_against_index exact mode must equal the brute-force
    cross-slice Jaccard over the SAME shingle sets — the candidate
    generation (band join vs stored signatures) and the verify join are
    the machinery under test; shingling itself is shared and collected
    once as the reference input."""

    # r13 suite-budget trim: 12 -> 7 (each example is three
    # full Spark pipelines; the shingle/band machinery is
    # further locked by q80's oracle).
    # ARC_FULL_FUZZ=1 restores the full count (r14 knob).
    @settings(max_examples=12 if _FULL_FUZZ else 7, deadline=None)
    @given(st.data())
    def test_exact_mode_equals_bruteforce(self, spark, data):
        from arc_spark.operators.dedup import (
            _shingled, dedup_against_index, minhash_index)

        vocab = ["alpha", "beta", "gamma", "delta", "eps"]
        n_docs = data.draw(st.integers(min_value=4, max_value=14))
        rows = []
        for i in range(n_docs):
            words = data.draw(st.lists(
                st.sampled_from(vocab), min_size=0, max_size=12))
            rows.append((i, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = docs.filter("doc_id % 2 = 0")
        new = docs.filter("doc_id % 2 = 1")
        # reference: brute-force jaccard over the collected shingle sets
        sets = {r["doc"]: set(r["shingles"] or [])
                for r in _shingled(docs, "doc_id", "text", 3).collect()}
        want = set()
        for a in range(1, n_docs, 2):
            for b in range(0, n_docs, 2):
                sa, sb = sets.get(a) or set(), sets.get(b) or set()
                if not sa or not sb:
                    continue
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.5:
                    want.add((a, b, round(j, 9)))
        got = {(r["new_doc"], r["index_doc"], round(r["jaccard"], 9))
               for r in dedup_against_index(
                   new, minhash_index(corpus), threshold=0.5,
                   corpus=corpus).collect()}
        # banding at r=2,b=64 misses a j>=0.5 pair w.p. <=1e-8 — treat
        # the comparison as exact at test sizes
        assert got == want
