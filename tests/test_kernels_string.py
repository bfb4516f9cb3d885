"""String/bytes kernel parity tests, ported from reference
test/string_test.py."""

import uuid

from filters_spark.functions.spec import run_one

from tests.test_kernels_number import errors, passes


class TestStripCustomPattern:
    def test_custom_pattern_uses_reference_dialect_on_ascii(self):
        # custom patterns take the Python-regex path for EVERY row:
        # RE2's \s excludes \x0b, so the vectorized engine would keep
        # it even on pure-ASCII input (review finding)
        passes([("strip", {"leading": r"\s+", "trailing": r"\s+"})], "\x0bhello\x0b", "hello")
        # default pattern still strips it (via \p{C}) on the fast path
        passes(["strip"], "\x0bhello\x0b", "hello")


class TestUnicode:
    def test_decode_bytes(self):
        import unicodedata

        expected = unicodedata.normalize("NFC", "héllo")
        passes(["unicode"], "héllo".encode("utf-8"), expected)

    def test_wrong_encoding(self):
        errors(["unicode"], b"\xff\xfe", ["wrong_encoding"])

    def test_bool_becomes_1_0(self):
        passes(["unicode"], True, "1")
        passes(["unicode"], False, "0")

    def test_int_float(self):
        passes(["unicode"], 42, "42")
        passes(["unicode"], 3.5, "3.5")

    def test_decimal_no_sci_notation(self):
        # Decimal -> format(v,'f') (string.py:721-722)
        from decimal import Decimal

        passes(["unicode"], Decimal("2.8E6"), "2800000")

    def test_nfc_normalization(self):
        # e + combining acute -> é (composed form)
        passes(["unicode"], "é", "é")

    def test_strip_non_printables_keeps_whitespace(self):
        passes(["unicode"], "foo\x00bar\nbaz\t", "foobar\nbaz\t")

    def test_newline_normalization(self):
        passes(["unicode"], "a\r\nb\rc\nd", "a\nb\nc\nd")

    def test_normalize_off(self):
        passes([("unicode", {"normalize": False})], "a\r\nb\x00", "a\r\nb\x00")

    def test_none_passes(self):
        passes(["unicode"], None, None)


    def test_vectorized_head_split_matches_scalar_on_every_codepoint(self):
        # the vectorized normalize takes the scalar reference on a
        # string's first 64 codepoints when the rest is ASCII: every
        # non-ASCII codepoint between an 'e' and a combining acute at
        # the end of that head, and after an 'e' just past it, over
        # ASCII text with \r / \n / control-char seams
        import pandas as pd

        from filters_spark.functions.kernels import UnicodeK

        u = UnicodeK(normalize=True)
        cps = [chr(c) for c in range(0x80, 0x20000) if not 0xD800 <= c < 0xE000]
        body = "x\r\x00\n" * 20
        batch = ["a" * 61 + "e" + c + "\u0301" + body for c in cps] \
            + ["a" * 63 + "e" + c + body for c in cps]
        got = u._normalize_vec(pd.Series(batch, dtype=object)).tolist()
        assert got == [u._normalize_one(v) for v in batch]


class TestByteString:
    def test_str_to_bytes(self):
        passes(["byte_string"], "héllo", "héllo".encode("utf-8"))

    def test_normalize_off_by_default(self):
        passes(["byte_string"], "a\r\nb", b"a\r\nb")

    def test_normalize_on(self):
        passes([("byte_string", {"normalize": True})], "a\r\nb", b"a\nb")


class TestCaseFold:
    def test_basic(self):
        passes(["case_fold"], "FOO bar BAZ", "foo bar baz")

    def test_eszett(self):
        # casefold != lower: ß -> ss (string_test.py:354-365)
        passes(["case_fold"], "Weißbier", "weissbier")

    def test_rejects_bytes(self):
        errors(["case_fold"], b"foo", ["wrong_type"])

    def test_none_passes(self):
        passes(["case_fold"], None, None)


class TestStrip:
    def test_default_strips_whitespace_and_controls(self):
        passes(["strip"], "  \t foo bar \x00\n", "foo bar")

    def test_custom_patterns(self):
        passes([("strip", {"leading": r"\d+", "trailing": r"\d+"})], "123abc456", "abc")

    def test_leading_only(self):
        passes([("strip", {"leading": r"\s+", "trailing": None})], "  x  ", "x  ")

    def test_rejects_bytes(self):
        errors(["strip"], b" x ", ["wrong_type"])

    def test_interior_untouched(self):
        passes(["strip"], " a b ", "a b")


class TestRegex:
    def test_returns_list_of_matches(self):
        passes([("regex", {"pattern": r"\d+"})], "a1b22c333", ["1", "22", "333"])

    def test_no_match_malformed(self):
        errors([("regex", {"pattern": r"\d+"})], "abc", ["malformed"])

    def test_rejects_bytes(self):
        errors([("regex", {"pattern": "a"})], b"a", ["wrong_type"])

    def test_unicode_property_class(self):
        # the `regex` module's \p{...} extensions must work (string.py:492-496)
        passes([("regex", {"pattern": r"\p{L}+"})], "héllo wörld", ["héllo", "wörld"])


class TestSplit:
    def test_basic_split(self):
        passes([("split", {"pattern": ":"})], "a:b:c", ["a", "b", "c"])

    def test_capturing_groups_included(self):
        # (string_test.py:990-999)
        passes([("split", {"pattern": "(:)"})], "a:b", ["a", ":", "b"])

    def test_keys_to_dict_with_padding(self):
        r = run_one([("split", {"pattern": ":", "keys": ["x", "y", "z"]})], "a:b")
        assert r.is_valid
        assert dict(r.cleaned_data) == {"x": "a", "y": "b", "z": None}

    def test_keys_too_many_parts(self):
        errors(
            [("split", {"pattern": ":", "keys": ["x", "y"]})],
            "a:b:c",
            ["too_long"],
        )


class TestBase64Decode:
    def test_standard(self):
        passes(["base64_decode"], b"aGVsbG8=", b"hello")

    def test_whitespace_stripped(self):
        passes(["base64_decode"], b"aGVs\nbG8=", b"hello")

    def test_padding_normalized(self):
        passes(["base64_decode"], b"aGVsbG8", b"hello")

    def test_urlsafe_dialect(self):
        import base64

        raw = b"\xfb\xff\xbf\x01"
        enc = base64.urlsafe_b64encode(raw)
        assert b"-" in enc or b"_" in enc
        passes(["base64_decode"], enc, raw)

    def test_mixed_dialects_rejected(self):
        errors(["base64_decode"], b"a+b_", ["not_base64"])

    def test_invalid_characters(self):
        errors(["base64_decode"], b"@@@@", ["not_base64"])

    def test_rejects_str(self):
        # bytes only (string.py:56)
        errors(["base64_decode"], "aGVsbG8=", ["wrong_type"])


class TestMaxBytes:
    def test_within_limit_returns_bytes(self):
        # result is always bytes, even for str input (string.py:255-256)
        passes([("max_bytes", {"max_bytes": 10})], "hello", b"hello")

    def test_too_long_truncates(self):
        r = run_one([("max_bytes", {"max_bytes": 3})], "hello")
        assert r.errors == {"": ["too_long"]}
        assert r.cleaned_data == b"hel"

    def test_multibyte_not_orphaned(self):
        # 'é' is 2 bytes; truncating at 6 must not split it
        r = run_one([("max_bytes", {"max_bytes": 6})], "hellé")
        assert r.is_valid and r.cleaned_data == "hellé".encode("utf-8")
        r = run_one([("max_bytes", {"max_bytes": 5})], "hellé")
        assert r.errors == {"": ["too_long"]}
        assert r.cleaned_data == b"hell"

    def test_prefix_applied_before_truncation(self):
        r = run_one([("max_bytes", {"max_bytes": 5, "prefix": ">>"})], "hello!")
        assert r.errors == {"": ["too_long"]}
        assert r.cleaned_data == b">>hel"

    def test_truncate_false_replacement_none(self):
        r = run_one([("max_bytes", {"max_bytes": 3, "truncate": False})], "hello")
        assert r.errors == {"": ["too_long"]}
        assert r.cleaned_data is None

    def test_four_byte_sequence(self):
        s = "ab\U0001F600"  # emoji = 4 bytes
        r = run_one([("max_bytes", {"max_bytes": 5})], s)
        assert r.cleaned_data == b"ab"

    def test_normalizes_before_measuring(self):
        # reference MaxBytes pipes through Unicode(normalize=True)
        # BEFORE encoding/measuring (string.py:250-356, ADVICE round 1):
        # CRLF -> LF, so 'a\r\nb' is 3 bytes, not 4
        r = run_one([("max_bytes", {"max_bytes": 3})], "a\r\nb")
        assert r.is_valid and r.cleaned_data == b"a\nb"
        # NFD 'e'+combining-acute (3 bytes) -> NFC 'é' (2 bytes)
        r = run_one([("max_bytes", {"max_bytes": 2})], "e\u0301")
        assert r.is_valid and r.cleaned_data == "é".encode("utf-8")
        # and the truncated REPLACEMENT is of the normalized text
        r = run_one([("max_bytes", {"max_bytes": 2})], "a\r\nb")
        assert r.errors == {"": ["too_long"]}
        assert r.cleaned_data == b"a\n"


class TestUuid:
    def test_dashed(self):
        v = "3466c56a-2ebc-449d-97d2-9b119721ff0f"
        r = run_one(["uuid"], v)
        assert r.is_valid and str(r.cleaned_data) == v and isinstance(r.cleaned_data, uuid.UUID)

    def test_hex_no_dashes(self):
        r = run_one(["uuid"], "3466c56a2ebc449d97d29b119721ff0f")
        assert r.is_valid and str(r.cleaned_data) == "3466c56a-2ebc-449d-97d2-9b119721ff0f"

    def test_braced_and_urn(self):
        assert run_one(["uuid"], "{3466c56a-2ebc-449d-97d2-9b119721ff0f}").is_valid
        assert run_one(["uuid"], "urn:uuid:3466c56a-2ebc-449d-97d2-9b119721ff0f").is_valid

    def test_invalid(self):
        errors(["uuid"], "not a uuid", ["not_uuid"])

    def test_version_pin(self):
        v4 = "3466c56a-2ebc-449d-97d2-9b119721ff0f"  # version nibble = 4
        assert run_one([("uuid", {"version": 4})], v4).is_valid
        r = run_one([("uuid", {"version": 1})], v4)
        assert r.errors == {"": ["wrong_version"]}

    def test_rejects_int(self):
        errors(["uuid"], 42, ["wrong_type"])


class TestIpAddress:
    def test_ipv4_valid(self):
        passes(["ip_address"], "127.0.0.1", "127.0.0.1")

    def test_ipv4_invalid(self):
        errors(["ip_address"], "256.1.1.1", ["not_ip_address"])
        errors(["ip_address"], "not an ip", ["not_ip_address"])

    def test_ipv6_rejected_by_default(self):
        errors(["ip_address"], "::1", ["not_ip_address"])

    def test_ipv6_canonicalized(self):
        r = run_one([("ip_address", {"ipv4": False, "ipv6": True})],
                    "2001:0DB8:0000:0000:0000:0000:1428:57ab")
        assert r.is_valid and r.cleaned_data == "2001:db8::1428:57ab"


class TestJsonDecode:
    def test_object_key_order_preserved(self):
        r = run_one(["json_decode"], '{"b": 1, "a": 2}')
        assert r.is_valid and list(r.cleaned_data.keys()) == ["b", "a"]

    def test_scalars(self):
        passes(["json_decode"], "42", 42)
        passes(["json_decode"], '"x"', "x")

    def test_invalid(self):
        errors(["json_decode"], "{nope", ["not_json"])

    def test_rejects_bytes(self):
        errors(["json_decode"], b"{}", ["wrong_type"])
