"""Property-based (hypothesis) invariants over the kernel layer and the
cross-engine hash family.

These run WITHOUT Spark (kernels are pandas/pyarrow; the hash mirror is
DuckDB), so hypothesis can afford hundreds of examples per property.
They pin the invariants the example-based reference ports can't sweep:
UTF-8 safety of byte truncation on arbitrary codepoint boundaries,
idempotence of the normalizers, HALF_UP parity on arbitrary decimals,
and bit-exactness of sha64/mix31 across engines on arbitrary text.
"""

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from filters_spark.functions.spec import run_one

TEXT = st.text(max_size=200)
# surrogate-free text that survives UTF-8 (hypothesis text() already
# excludes surrogates)


class TestStringKernelProperties:
    @given(TEXT, st.integers(min_value=0, max_value=64))
    @settings(max_examples=200, deadline=None)
    def test_max_bytes_truncation_is_utf8_safe_prefix(self, s, max_bytes):
        # reference contract: MaxBytes emits BYTES; an over-budget value
        # errors `too_long` but carries the truncated bytes as the
        # replacement (the only filter with a non-None error value)
        r = run_one([("max_bytes", {"max_bytes": max_bytes})], s)
        norm = run_one(["unicode"], s)
        assert norm.is_valid
        normed = norm.cleaned_data
        out = r.cleaned_data
        assert isinstance(out, bytes)
        # never splits a codepoint — decodes cleanly
        decoded = out.decode("utf-8")
        # decoded text is a prefix of the NORMALIZED input (MaxBytes
        # normalizes NFC/CRLF BEFORE measuring — round-2 pin)
        assert normed.startswith(decoded)
        if len(normed.encode("utf-8")) > max_bytes:
            # over budget: too_long error CARRYING the truncated bytes
            assert not r.is_valid and r.errors == {"": ["too_long"]}
            assert len(out) <= max_bytes
        else:
            assert r.is_valid and decoded == normed

    @given(TEXT)
    @settings(max_examples=200, deadline=None)
    def test_unicode_normalize_idempotent(self, s):
        r1 = run_one(["unicode"], s)
        if not r1.is_valid:
            return
        r2 = run_one(["unicode"], r1.cleaned_data)
        assert r2.is_valid and r2.cleaned_data == r1.cleaned_data

    @given(TEXT)
    @settings(max_examples=200, deadline=None)
    def test_casefold_and_strip_idempotent(self, s):
        for spec in (["case_fold"], ["strip"]):
            r1 = run_one(spec, s)
            if not r1.is_valid:
                continue
            r2 = run_one(spec, r1.cleaned_data)
            assert r2.is_valid and r2.cleaned_data == r1.cleaned_data
        stripped = run_one(["strip"], s)
        if stripped.is_valid and isinstance(stripped.cleaned_data, str):
            assert stripped.cleaned_data == stripped.cleaned_data.strip()

    @given(st.binary(min_size=1, max_size=100))
    @settings(max_examples=200, deadline=None)
    def test_base64_roundtrip(self, b):
        # reference Base64Decode consumes BYTES (Type(binary_type) gate);
        # empty input is wrong_type — hence min_size=1 and bytes in
        import base64

        r = run_one(["base64_decode"], base64.b64encode(b))
        assert r.is_valid, r.errors
        assert r.cleaned_data == b

    @given(st.text(alphabet=" \t\xa0　​͸ab\x00", max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_strip_matches_reference_regex_on_unicode_edges(self, s):
        # the hypothesis catch that found RE2's ASCII-only \s and
        # missing-Cn divergence: vectorized strip must equal the
        # reference's Python-regex strip on NBSP / ideographic space /
        # ZWSP / unassigned codepoints
        import regex as rx

        lead = rx.compile(r"^[\p{C}\s]+", rx.UNICODE)
        trail = rx.compile(r"[\p{C}\s]+$", rx.UNICODE)
        r = run_one(["strip"], s)
        assert r.is_valid, r.errors
        assert r.cleaned_data == trail.sub("", lead.sub("", s))

    @given(st.text(alphabet="ab ͸\U00018df3\x00‍\xe9", max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_unicode_vec_matches_scalar_reference(self, s):
        # vectorized (pyarrow RE2) and scalar (Python regex) normalize
        # paths must agree — RE2 misses unassigned (Cn) codepoints
        import pandas as pd

        from filters_spark.functions.kernels import UnicodeK

        u = UnicodeK(normalize=True)
        assert u._normalize_vec(pd.Series([s]))[0] == u._normalize_one(s)

    @given(st.lists(st.tuples(
        st.text(alphabet="ab \r\n\x00\x0b\x7f\x85\xa0\u3000\u200b\u0378\U00018df3\u0301\xe9\uac00",
                max_size=80),
        st.text(alphabet="ab \t\r\n\x00\x1f\x7f", min_size=64, max_size=300),
        st.text(alphabet="ab\r\x85\u0301\u0378\U00018df3", max_size=4),
    ), min_size=1, max_size=8))
    @settings(max_examples=200, deadline=None)
    def test_unicode_vec_head_and_tail_match_scalar_reference(self, parts):
        # long strings, one batch: non-ASCII hazards in a head shorter
        # or longer than the vectorized path's 64-codepoint head, over
        # an ASCII body, and sometimes a non-ASCII tail
        import pandas as pd

        from filters_spark.functions.kernels import UnicodeK

        u = UnicodeK(normalize=True)
        batch = ["".join(p) for p in parts]
        got = u._normalize_vec(pd.Series(batch, dtype=object)).tolist()
        assert got == [u._normalize_one(v) for v in batch]


class TestIdentifierKernelProperties:
    @given(st.uuids())
    @settings(max_examples=150, deadline=None)
    def test_uuid_canonicalization(self, u):
        # any spelling (hex, braces, upper) canonicalizes to the same UUID
        for spelling in (str(u), str(u).upper(), u.hex, "{%s}" % u):
            r = run_one(["uuid"], spelling)
            assert r.is_valid, (spelling, r.errors)
            assert r.cleaned_data == u

    @given(st.ip_addresses(v=4))
    @settings(max_examples=150, deadline=None)
    def test_ipv4_roundtrip(self, ip):
        r = run_one([("ip_address", {"ipv4": True})], str(ip))
        assert r.is_valid, r.errors
        assert r.cleaned_data == str(ip)

    @given(st.ip_addresses(v=6))
    @settings(max_examples=150, deadline=None)
    def test_ipv6_canonicalization_semantic_and_idempotent(self, ip):
        # exploded spelling -> the kernel's canonical spelling (the
        # reference keeps IPv4-MAPPED addresses in dotted-quad form,
        # e.g. '::ffff:0.0.0.0', where Python's str() compresses) —
        # assert semantic equality + fixed-point instead of a spelling
        import ipaddress

        r = run_one([("ip_address", {"ipv6": True})], ip.exploded)
        assert r.is_valid, r.errors
        assert ipaddress.ip_address(r.cleaned_data) == ip
        r2 = run_one([("ip_address", {"ipv6": True})], r.cleaned_data)
        assert r2.is_valid and r2.cleaned_data == r.cleaned_data


class TestNumericKernelProperties:
    @given(
        st.decimals(allow_nan=False, allow_infinity=False,
                    min_value=-10**12, max_value=10**12, places=6),
        st.sampled_from(["1", "0.1", "0.01", "0.5", "2"]),
    )
    @settings(max_examples=200, deadline=None)
    def test_round_half_up_matches_python_decimal(self, d, step):
        r = run_one(["decimal", ("round", {"to_nearest": step})], str(d))
        assert r.is_valid, r.errors
        q = Decimal(step)
        want = (d / q).quantize(Decimal("1"), rounding=ROUND_HALF_UP) * q
        assert r.cleaned_data == want, (r.cleaned_data, want)

    @given(st.integers(min_value=-10**15, max_value=10**15))
    @settings(max_examples=200, deadline=None)
    def test_int_roundtrips_integers(self, n):
        r = run_one(["int"], str(n))
        assert r.is_valid and r.cleaned_data == n


class TestHashFamilyProperties:
    @pytest.fixture(scope="class")
    def con(self):
        c = duckdb.connect()
        c.execute("CREATE TABLE t(s VARCHAR)")
        return c

    @given(st.text(max_size=120, alphabet=st.characters(
        blacklist_categories=("Cs",), max_codepoint=0x10000)))
    @settings(max_examples=150, deadline=None)
    def test_sha64_bit_exact_python_vs_duckdb(self, con, s):
        from filters_spark.operators.hashing import sha64_sql

        want = int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big", signed=True)
        got = con.execute(f"SELECT {sha64_sql('$1')}", [s]).fetchone()[0]
        assert got == want

    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1),
           st.integers(min_value=0, max_value=1024))
    @settings(max_examples=200, deadline=None)
    def test_mix31_bit_exact_python_vs_duckdb(self, con, h, salt):
        from filters_spark.operators.hashing import _MIX_MULT, _MOD31, mix31_sql

        want = ((h % _MOD31) + 1) * (2 * salt + _MIX_MULT) % _MOD31
        got = con.execute(f"SELECT {mix31_sql('$1', '$2')}", [h, salt]).fetchone()[0]
        assert got == want
        assert 0 <= got < _MOD31
