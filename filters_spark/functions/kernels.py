"""Vectorized filter kernels (the `filters` semantics port).

Each kernel is a batch transform ``pd.Series -> (pd.Series, pd.Series)``:
the first output is the cleaned values, the second is the per-slot error
channel (``None`` or a list of ``(dotted_key, code, message)`` tuples).
Kernels never raise on bad data — errors are data (the dead-letter
channel), mirroring the reference's invalid-value handler model
(reference filters/base.py:320-412, filters/handlers.py:94-136).

Semantics ported (all citations into /root/reference):
- ``None`` passes every filter except Required / NotEmpty(allow_none=False)
  (base.py:266-293, simple.py:518-537).
- Invalid value -> replaced by ``None`` (base.py:320-412); only MaxBytes
  supplies a non-None replacement (string.py:330-356).
- Codes are stable class constants, e.g. ``not_numeric`` (number.py:26).

These kernels run inside Arrow-batched pandas UDFs; the hot-path string
kernels (Unicode, Strip) use pyarrow compute / pandas str ops so the
inner loop stays in native code.
"""

from __future__ import annotations

import base64 as _b64
import decimal
import json
import socket
import unicodedata
import uuid as _uuid
from collections import OrderedDict
from collections.abc import Mapping, Sequence, Sized
from datetime import date, datetime, time, tzinfo
from typing import Any, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import regex as _regex

try:
    from dateutil.parser import parse as _dateutil_parse
    from dateutil.tz import tzoffset as _tzoffset, tzutc as _tzutc
except ImportError:  # pragma: no cover - dateutil is a hard dep of pyspark
    _dateutil_parse = None

_UTC = _tzutc() if _dateutil_parse is not None else None

Err = tuple[str, str, str]  # (dotted_key, code, message)


def _none_series(index) -> pd.Series:
    return pd.Series([None] * len(index), index=index, dtype=object)


def _obj(values, index) -> pd.Series:
    return pd.Series(list(values), index=index, dtype=object)


class Kernel:
    """Base vectorized filter.

    Subclasses implement ``_apply(sub: pd.Series) -> (pd.Series, pd.Series)``
    over the non-None slots; ``_apply_none() -> (value, err|None)`` controls
    the None path (default: pass through, base.py:289-293).
    """

    name: str = "kernel"
    templates: dict[str, str] = {}

    def msg(self, code: str, **kw) -> str:
        return self.templates.get(code, code).format(**kw)

    def err(self, code: str, **kw) -> Err:
        return ("", code, self.msg(code, **kw))

    # -- batch application -------------------------------------------------
    def apply(self, vals: pd.Series) -> tuple[pd.Series, pd.Series]:
        if vals.dtype != object:
            vals = vals.astype(object)
        errs = _none_series(vals.index)
        none_mask = pd.Series([v is None for v in vals], index=vals.index, dtype=bool)
        out = vals.copy()
        if none_mask.any():
            nv, ne = self._apply_none()
            k = int(none_mask.sum())
            out[none_mask] = _obj([nv] * k, vals.index[none_mask])
            if ne is not None:
                errs[none_mask] = _obj([[ne]] * k, vals.index[none_mask])
        work = ~none_mask
        if work.any():
            sub_out, sub_err = self._apply(vals[work])
            out[work] = sub_out
            errs[work] = sub_err
        return out, errs

    def _apply_none(self) -> tuple[Any, Optional[Err]]:
        return None, None

    def _apply(self, sub: pd.Series) -> tuple[pd.Series, pd.Series]:  # pragma: no cover
        raise NotImplementedError

    # helper: elementwise map with (value, err) outputs
    def _map(self, sub: pd.Series, fn) -> tuple[pd.Series, pd.Series]:
        outs, errs = [], []
        for v in sub:
            o, e = fn(v)
            outs.append(o)
            errs.append([e] if e is not None else None)
        return _obj(outs, sub.index), _obj(errs, sub.index)


# ---------------------------------------------------------------------------
# Type & presence predicates (reference filters/base.py:623-713, simple.py)
# ---------------------------------------------------------------------------

_JSON_ALIASES = {
    bool: "Boolean",
    dict: "Object",
    float: "Number",
    int: "Number",
    list: "Array",
    bytes: "String",
    str: "String",
    Mapping: "Array",
    Sequence: "Array",
}


def _type_name(t: type) -> str:
    return _JSON_ALIASES.get(t, t.__name__)


class TypeK(Kernel):
    """isinstance gate (base.py:623-713); code ``wrong_type``."""

    name = "type"
    CODE_WRONG_TYPE = "wrong_type"
    templates = {"wrong_type": "{incoming} is not valid (allowed types: {allowed})."}

    def __init__(self, allowed_types, allow_subclass: bool = True):
        self.allowed_types = (
            tuple(allowed_types) if isinstance(allowed_types, (tuple, list)) else (allowed_types,)
        )
        self.allow_subclass = allow_subclass
        self._allowed_names = ", ".join(sorted({_type_name(t) for t in self.allowed_types if isinstance(t, type)}))

    def _check(self, v) -> bool:
        if self.allow_subclass:
            return isinstance(v, self.allowed_types)
        return type(v) in self.allowed_types

    def _wrong(self, v) -> Err:
        return self.err("wrong_type", incoming=_type_name(type(v)), allowed=self._allowed_names)

    def _apply(self, sub):
        return self._map(sub, lambda v: (v, None) if self._check(v) else (None, self._wrong(v)))


class ArrayK(TypeK):
    """Non-string Sequence gate (simple.py:35-60)."""

    name = "array"

    def __init__(self):
        super().__init__((Sequence,), True)

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, Sequence) or isinstance(v, (bytes, str, bytearray)):
                return None, self._wrong(v)
            return v, None

        return self._map(sub, f)


def _length_of(v) -> int:
    try:
        return len(v)
    except TypeError:
        return 1


class NotEmptyK(Kernel):
    """Zero-length rejection; None passes unless allow_none=False
    (simple.py:475-522)."""

    name = "not_empty"
    CODE_EMPTY = "empty"
    templates = {"empty": "Non-empty value expected."}

    def __init__(self, allow_none: bool = True):
        self.allow_none = allow_none

    def _apply_none(self):
        if not self.allow_none:
            return None, self.err("empty")
        return None, None

    def _apply(self, sub):
        return self._map(
            sub, lambda v: (v, None) if _length_of(v) else (None, self.err("empty"))
        )


class RequiredK(NotEmptyK):
    """NotEmpty with allow_none hard-wired False (simple.py:525-537).
    The only None-rejecting filter."""

    name = "required"
    templates = {"empty": "This value is required."}

    def __init__(self):
        super().__init__(allow_none=False)


class EmptyK(Kernel):
    """Accept only zero-length values (simple.py:294-319)."""

    name = "empty"
    CODE_NOT_EMPTY = "not_empty"
    templates = {"not_empty": "Empty value expected."}

    def _apply(self, sub):
        return self._map(
            sub, lambda v: (None, self.err("not_empty")) if _length_of(v) else (v, None)
        )


class OptionalK(Kernel):
    """Replace None/empty with a default; never errors (simple.py:541-574)."""

    name = "optional"

    def __init__(self, default=None):
        self.default = default

    def _apply_none(self):
        return self.default, None

    def _apply(self, sub):
        return self._map(sub, lambda v: (v if _length_of(v) > 0 else self.default, None))


class ChoiceK(Kernel):
    """Case-sensitive set membership (simple.py:129-171)."""

    name = "choice"
    CODE_INVALID = "not_valid_choice"
    templates = {"not_valid_choice": "Valid options are: {choices}"}

    def __init__(self, choices):
        self.choices = set(choices)
        self._choices_repr = json.dumps(sorted(self.choices, key=repr), default=str)

    def _apply(self, sub):
        def f(v):
            try:
                ok = v in self.choices
            except TypeError:
                ok = False
            return (v, None) if ok else (None, self.err("not_valid_choice", choices=self._choices_repr))

        return self._map(sub, f)


class LengthK(Kernel):
    """Exact length (simple.py:323-374); gated on Sized."""

    name = "length"
    templates = {
        "too_long": "Value is too long (length must be exactly {expected}).",
        "too_short": "Value is too short (length must be exactly {expected}).",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, length: int):
        self.length = length

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, Sized):
                return None, ("", "wrong_type", self.msg(
                    "wrong_type", incoming=_type_name(type(v)), allowed="Sized"))
            n = len(v)
            if n > self.length:
                return None, self.err("too_long", expected=self.length)
            if n < self.length:
                return None, self.err("too_short", expected=self.length)
            return v, None

        return self._map(sub, f)


class MaxLengthK(Kernel):
    """len(v) <= max (simple.py:378-417); no truncation."""

    name = "max_length"
    templates = {"too_long": "Value is too long (length must be < {max})."}

    def __init__(self, max_length: int):
        self.max_length = max_length

    def _apply(self, sub):
        return self._map(
            sub,
            lambda v: (None, self.err("too_long", max=self.max_length))
            if _length_of(v) > self.max_length
            else (v, None),
        )


class MinLengthK(Kernel):
    """len(v) >= min (simple.py:420-462); no padding."""

    name = "min_length"
    templates = {"too_short": "Value is too short (length must be > {min})."}

    def __init__(self, min_length: int):
        self.min_length = min_length

    def _apply(self, sub):
        return self._map(
            sub,
            lambda v: (None, self.err("too_short", min=self.min_length))
            if _length_of(v) < self.min_length
            else (v, None),
        )


class NoOpK(Kernel):
    name = "noop"

    def _apply(self, sub):
        return sub.copy(), _none_series(sub.index)


# ---------------------------------------------------------------------------
# Numeric kernels (reference filters/number.py)
# ---------------------------------------------------------------------------


class DecimalK(Kernel):
    """Parse to decimal.Decimal; reject NaN/Inf; optional quantize
    (number.py:22-104)."""

    name = "decimal"
    CODE_INVALID = "not_numeric"
    CODE_NON_FINITE = "not_finite"
    templates = {
        "not_numeric": "Numeric value expected.",
        "not_finite": "Numeric value expected.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, max_precision=None, allow_tuples: bool = True):
        if max_precision is not None and not isinstance(max_precision, decimal.Decimal):
            max_precision = decimal.Decimal(".1") ** max_precision
        self.max_precision = max_precision
        self.allow_tuples = allow_tuples

    def _one(self, v):
        allowed = (str, int, float, decimal.Decimal)
        if self.allow_tuples:
            allowed += (list, tuple)
        if not isinstance(v, allowed):
            return None, ("", "wrong_type", self.msg(
                "wrong_type", incoming=_type_name(type(v)), allowed="Number, String"))
        try:
            d = decimal.Decimal(v)
        except (decimal.InvalidOperation, TypeError, ValueError):
            return None, self.err("not_numeric")
        if not d.is_finite():
            return None, self.err("not_finite")
        if self.max_precision is not None:
            d = d.quantize(self.max_precision)
        return d, None

    def _apply(self, sub):
        return self._map(sub, self._one)


class IntK(Kernel):
    """Decimal then reject fractional remainder (number.py:107-140)."""

    name = "int"
    CODE_DECIMAL = "not_int"
    templates = {"not_int": "Integer value expected."}

    def __init__(self):
        self._dec = DecimalK()

    def _apply(self, sub):
        def f(v):
            d, e = self._dec._one(v)
            if e is not None:
                return None, e
            # fractional check; == to_integral avoids DivisionImpossible
            # on values wider than the decimal context (d % 1 would raise)
            if d != d.to_integral_value():
                return None, self.err("not_int")
            return int(d), None

        return self._map(sub, f)


class MaxK(Kernel):
    """value <= max (or < if exclusive); replacement stays None
    (number.py:144-208)."""

    name = "max"
    templates = {"too_big": "Value is too large (must be {operator} {max})."}

    def __init__(self, max_value, exclusive: bool = False):
        self.max_value = max_value
        self.exclusive = exclusive

    def _apply(self, sub):
        op = "<" if self.exclusive else "<="

        def f(v):
            try:
                bad = (v > self.max_value) or (self.exclusive and v == self.max_value)
            except TypeError:
                bad = True
            if bad:
                return None, self.err("too_big", operator=op, max=self.max_value)
            return v, None

        return self._map(sub, f)


class MinK(Kernel):
    """Mirror of Max (number.py:212-277)."""

    name = "min"
    templates = {"too_small": "Value is too small (must be {operator} {min})."}

    def __init__(self, min_value, exclusive: bool = False):
        self.min_value = min_value
        self.exclusive = exclusive

    def _apply(self, sub):
        op = ">" if self.exclusive else ">="

        def f(v):
            try:
                bad = (v < self.min_value) or (self.exclusive and v == self.min_value)
            except TypeError:
                bad = True
            if bad:
                return None, self.err("too_small", operator=op, min=self.min_value)
            return v, None

        return self._map(sub, f)


class RoundK(Kernel):
    """Scale -> quantize -> unscale with decimal arithmetic
    (number.py:280-334): ``(v / n).quantize(1, rounding) * n``."""

    name = "round"

    def __init__(self, to_nearest=1, rounding=decimal.ROUND_HALF_UP, result_type=decimal.Decimal):
        self.to_nearest = decimal.Decimal(to_nearest)
        if self.to_nearest < 0:
            raise ValueError("Round(to_nearest) must be >= 0")
        self.rounding = rounding
        self.result_type = result_type
        self._dec = DecimalK()

    def _apply(self, sub):
        one = decimal.Decimal("1")

        def f(v):
            d, e = self._dec._one(v)
            if e is not None:
                return None, e
            r = (d * one / self.to_nearest).quantize(one, rounding=self.rounding) * self.to_nearest
            return self.result_type(r), None

        return self._map(sub, f)


# ---------------------------------------------------------------------------
# String / bytes kernels (reference filters/string.py, simple.py ByteArray)
# ---------------------------------------------------------------------------

# Non-printable class: everything in Unicode category C except whitespace
# (double negative keeps \n etc.), string.py:687-697.
_NPR = _regex.compile(r"[^\P{C}\s]+", _regex.UNICODE)
# The ASCII members of _NPR as an RE2 class: Cc minus the whitespace
# \t \n \x0b \f \r. RE2's own \p{C} and \s are NOT _NPR's sets: its \s
# is [\t\n\f\r ] (no \x0b, no \x85) and its \p{C} misses unassigned
# codepoints (Cn) — hypothesis-found divergences vs the reference's
# Python-regex semantics — so no non-ASCII codepoint is deleted by RE2
# (see UnicodeK._normalize_vec).
_NPR_ASCII = r"[\x00-\x08\x0e-\x1f\x7f]+"
# UnicodeK._normalize_vec's head length, in codepoints: generated and
# code-corpus text carries its non-ASCII hazards in a short head.
_HEAD = 64


def _is_all_strings(sub: pd.Series) -> bool:
    return all(isinstance(v, str) for v in sub)


class UnicodeK(Kernel):
    """Convert to text + optional normalization (string.py:653-762):
    NFC form, strip non-printables, unix newlines.

    Fast path: when the batch is all-``str`` (the CDC hot path), the
    normalize pipeline runs vectorized in pyarrow C++ (RE2), with
    per-element Python only over the head of a non-ASCII string
    (:meth:`_normalize_vec`).
    """

    name = "unicode"
    CODE_DECODE_ERROR = "wrong_encoding"
    templates = {"wrong_encoding": "This value cannot be decoded using {encoding}."}

    def __init__(self, encoding: str = "utf-8", normalize: bool = True):
        self.encoding = encoding
        self.normalize = normalize

    def _decode_one(self, v):
        try:
            if isinstance(v, str):
                return v, None
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).decode(self.encoding), None
            if isinstance(v, bool):
                return str(int(v)), None
            if isinstance(v, (int, float)):
                return str(v), None
            if isinstance(v, decimal.Decimal):
                return format(v, "f"), None
            return str(v), None
        except UnicodeDecodeError:
            return None, self.err("wrong_encoding", encoding=self.encoding)

    def _normalize_vec(self, texts: pd.Series) -> pd.Series:
        # ASCII strings: one RE2 pass (with the CRLF rewrite) IS the
        # reference, ASCII being NFC by construction. A non-ASCII string
        # whose tail past _HEAD codepoints is ASCII takes the scalar
        # reference on its head only and the RE2 pass on its tail: the
        # deletion is per codepoint, and NFC never reaches across an
        # ASCII codepoint (ccc=0, NFC_QC=Yes, composes with nothing
        # before it). CRLF runs after the halves are joined, as a
        # deletion can join \r and \n. Other non-ASCII strings take
        # the scalar reference whole.
        vals = texts.tolist()
        out = [None] * len(vals)
        fast, tails, split, heads = [], [], [], []
        for i, v in enumerate(vals):
            if v is None:
                continue
            if v.isascii():
                fast.append(i)
                tails.append(v)
                split.append(False)
            elif (tail := v[_HEAD:]) and tail.isascii():
                fast.append(i)
                tails.append(tail)
                split.append(True)
                heads.append(unicodedata.normalize("NFC", _NPR.sub("", v[:_HEAD])))
            else:
                out[i] = self._normalize_one(v)
        if fast:
            arr = pc.replace_substring_regex(pa.array(tails, type=pa.string()),
                                             pattern=_NPR_ASCII, replacement="")
            if heads:
                split = pa.array(split)
                arr = pc.replace_with_mask(arr, split, pc.binary_join_element_wise(
                    pa.array(heads, type=pa.string()), arr.filter(split), ""))
            arr = pc.replace_substring(arr, pattern="\r\n", replacement="\n")
            arr = pc.replace_substring(arr, pattern="\r", replacement="\n")
            for i, v in zip(fast, arr.to_numpy(zero_copy_only=False)):
                out[i] = v
        return _obj(out, texts.index)

    def _normalize_one(self, s: str) -> str:
        return (
            unicodedata.normalize("NFC", _NPR.sub("", s))
            .replace("\r\n", "\n")
            .replace("\r", "\n")
        )

    def _apply(self, sub):
        if _is_all_strings(sub):
            if not self.normalize:
                return sub.copy(), _none_series(sub.index)
            return self._normalize_vec(sub), _none_series(sub.index)
        out, errs = self._map(sub, self._decode_one)
        if self.normalize:
            ok = errs.isna() & out.notna()
            if ok.any():
                out[ok] = self._normalize_vec(out[ok])
        return out, errs


class ByteStringK(UnicodeK):
    """Unicode then encode back to bytes; normalize OFF by default
    (string.py:765-822)."""

    name = "byte_string"

    def __init__(self, encoding: str = "utf-8", normalize: bool = False):
        super().__init__(encoding, normalize)

    def _apply(self, sub):
        out, errs = super()._apply(sub)
        ok = errs.isna()
        if ok.any():
            out[ok] = _obj([s.encode("utf-8") if s is not None else None for s in out[ok]], out.index[ok])
        return out, errs


class CaseFoldK(Kernel):
    """str.casefold (string.py:106-139). NOT equivalent to lower():
    'ß' -> 'ss'."""

    name = "case_fold"
    templates = {"wrong_type": "{incoming} is not valid (allowed types: {allowed})."}

    def _apply(self, sub):
        if _is_all_strings(sub):
            return sub.str.casefold().astype(object), _none_series(sub.index)
        return self._map(
            sub,
            lambda v: (v.casefold(), None)
            if isinstance(v, str)
            else (None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))),
        )


class LowerK(Kernel):
    """Plain lowercase (engine extension). Distinct from CaseFold —
    'ß'.lower() == 'ß' but 'ß'.casefold() == 'ss' — so specs can choose
    the JVM-exact native path (F.lower) when plain lowering is wanted."""

    name = "lower"
    templates = {"wrong_type": "{incoming} is not valid (allowed types: {allowed})."}

    def _apply(self, sub):
        if _is_all_strings(sub):
            return sub.str.lower().astype(object), _none_series(sub.index)
        return self._map(
            sub,
            lambda v: (v.lower(), None)
            if isinstance(v, str)
            else (None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))),
        )


_ASCII_LOWER_TABLE = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


class AsciiLowerK(Kernel):
    """ASCII-only lowercase (engine extension). Non-ASCII letters pass
    through unchanged — use this in hot chains whose downstream gate is
    an ASCII ``choice`` set: the outcome is identical to full lower()
    (non-ASCII values fail the choice either way) and it avoids Spark
    4's ICU case-mapping lock, which serializes all executor threads
    under concurrency (measured: 31/32 threads parked in
    CollationSupport$Lower.execBinaryICU)."""

    name = "ascii_lower"
    templates = {"wrong_type": "{incoming} is not valid (allowed types: {allowed})."}

    def _apply(self, sub):
        if _is_all_strings(sub):
            return sub.map(lambda s: s.translate(_ASCII_LOWER_TABLE)).astype(object), _none_series(sub.index)
        return self._map(
            sub,
            lambda v: (v.translate(_ASCII_LOWER_TABLE), None)
            if isinstance(v, str)
            else (None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))),
        )


class StripK(Kernel):
    """Anchored regex strip of both ends (string.py:592-649); defaults
    strip whitespace + control chars."""

    name = "strip"
    templates = {"wrong_type": "{incoming} is not valid (allowed types: {allowed})."}

    DEFAULT = r"[\p{C}\s]+"

    def __init__(self, leading: str | None = DEFAULT, trailing: str | None = DEFAULT):
        self.leading_pat = leading
        self.trailing_pat = trailing
        self.leading = _regex.compile(f"^{leading}", _regex.UNICODE) if leading else None
        self.trailing = _regex.compile(f"{trailing}$", _regex.UNICODE) if trailing else None

    def _py_strip(self, s: str) -> str:
        if self.leading:
            s = self.leading.sub("", s)
        if self.trailing:
            s = self.trailing.sub("", s)
        return s

    def _strip_vec(self, texts: pd.Series) -> pd.Series:
        # RE2's \s is ASCII-only and its \p{C} misses unassigned (Cn),
        # so a RE2 pass under-strips vs the reference's Python-regex
        # semantics (NBSP, U+3000, Cn — and within ASCII, \x0b for a
        # bare \s). For the DEFAULT pattern the two engines are
        # bit-identical on ASCII strings ([\p{C}\s] covers \x0b via Cc
        # either way), so ASCII rows keep the vectorized result and
        # only the non-ASCII minority recomputes from the ORIGINAL with
        # the compiled reference patterns. CUSTOM patterns get no such
        # proof — they take the reference path for every row (a rare
        # configuration; the hot default stays vectorized).
        vals = texts.tolist()
        is_default = self.leading_pat == self.DEFAULT and self.trailing_pat == self.DEFAULT
        if not is_default:
            return _obj(
                [None if s is None else self._py_strip(s) for s in vals], texts.index
            )
        arr = pa.array(vals, type=pa.string())
        if self.leading_pat:
            arr = pc.replace_substring_regex(arr, pattern=f"^{self.leading_pat}", replacement="", max_replacements=1)
        if self.trailing_pat:
            arr = pc.replace_substring_regex(arr, pattern=f"{self.trailing_pat}$", replacement="", max_replacements=1)
        out = []
        for orig, stripped in zip(vals, arr.to_pylist()):
            if orig is not None and not orig.isascii():
                out.append(self._py_strip(orig))
            else:
                out.append(stripped)
        return _obj(out, texts.index)

    def _apply(self, sub):
        if _is_all_strings(sub):
            return self._strip_vec(sub), _none_series(sub.index)

        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            if self.leading:
                v = self.leading.sub("", v)
            if self.trailing:
                v = self.trailing.sub("", v)
            return v, None

        return self._map(sub, f)


class RegexK(Kernel):
    """Return LIST of all full matches; none -> ``malformed``
    (string.py:457-525)."""

    name = "regex"
    CODE_INVALID = "malformed"
    templates = {
        "malformed": "Value does not match regular expression {pattern}.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, pattern: str):
        self.pattern = pattern
        self.regex = _regex.compile(pattern, _regex.UNICODE)

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            matches = [m.group(0) for m in self.regex.finditer(v)]
            if not matches:
                return None, self.err("malformed", pattern=self.pattern)
            return matches, None

        return self._map(sub, f)


class RegexMatchK(Kernel):
    """Validation-only Regex (engine extension, not in the reference):
    error on no match, but pass the ORIGINAL string through — composes
    in typed column chains where the reference Regex's list-of-matches
    output (string.py:510-513) would change the column type."""

    name = "regex_match"
    CODE_INVALID = "malformed"
    templates = {
        "malformed": "Value does not match regular expression {pattern}.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, pattern: str):
        self.pattern = pattern
        self.regex = _regex.compile(pattern, _regex.UNICODE)

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            if self.regex.search(v) is None:
                return None, self.err("malformed", pattern=self.pattern)
            return v, None

        return self._map(sub, f)


class SplitK(Kernel):
    """Regex split; capturing groups kept; with ``keys`` -> dict padded
    with None, len(parts) must be <= len(keys) (string.py:529-588)."""

    name = "split"
    templates = {
        "too_long": "Value is too long (length must be < {max}).",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, pattern: str, keys=None):
        self.pattern = pattern
        self.regex = _regex.compile(pattern, _regex.UNICODE)
        self.keys = list(keys) if keys is not None else None

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            parts = self.regex.split(v)
            if self.keys is None:
                return parts, None
            if len(parts) > len(self.keys):
                return None, self.err("too_long", max=len(self.keys))
            padded = parts + [None] * (len(self.keys) - len(parts))
            return OrderedDict(zip(self.keys, padded)), None

        return self._map(sub, f)


_B64_WS = _regex.compile(rb"[ \t\r\n]+")
_B64_ALPHABET = _regex.compile(rb"^[-+_/A-Za-z0-9=]+$")


class Base64DecodeK(Kernel):
    """Bytes-only base64 decode: whitespace strip, alphabet check, no
    mixed std/urlsafe dialects, padding normalization (string.py:39-102)."""

    name = "base64_decode"
    CODE_INVALID = "not_base64"
    templates = {
        "not_base64": "Base64-encoded value expected.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, (bytes, bytearray)):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            v = _B64_WS.sub(b"", bytes(v))
            if not _B64_ALPHABET.match(v):
                return None, self.err("not_base64")
            url_safe = (b"_" in v) or (b"-" in v)
            if url_safe and ((b"+" in v) or (b"/" in v)):
                return None, self.err("not_base64")
            v = v.rstrip(b"=")
            v += b"=" * (-len(v) % 4)
            try:
                return (_b64.urlsafe_b64decode(v) if url_safe else _b64.standard_b64decode(v)), None
            except Exception:
                return None, self.err("not_base64")

        return self._map(sub, f)


class MaxBytesK(Kernel):
    """Byte-budget enforcement with UTF-8-aware truncation
    (string.py:250-453). The ONLY filter whose error carries a non-None
    replacement: (value=truncated bytes, error=too_long)."""

    name = "max_bytes"
    CODE_TOO_LONG = "too_long"
    templates = {
        "too_long": "Value is too long (must be < {max_bytes} bytes when encoded using {encoding}).",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
        "wrong_encoding": "This value cannot be decoded using {encoding}.",
    }

    def __init__(self, max_bytes: int, truncate: bool = True, prefix: str = "", encoding: str = "utf-8"):
        self.max_bytes = max_bytes
        self.truncate = truncate
        self.prefix = prefix
        self.encoding = encoding
        # reference MaxBytes pipes the value through Unicode(encoding)
        # with normalize ON (string.py:319-324 -> 653-762): NFC, strip
        # non-printables, CRLF->LF — all BEFORE measuring/truncating.
        self._uni = UnicodeK(encoding=encoding, normalize=True)

    def truncate_string(self, value: str) -> bytes:
        raw = bytearray(value.encode(self.encoding))
        if self.encoding.lower() in ("utf-8", "utf8"):
            truncated = raw[: self.max_bytes]
            for i, o in enumerate(reversed(truncated), start=1):
                if i < 2 and o < 0b10000000:
                    break
                if o >= 0b11000000:
                    seq_length = 4 if o >= 0b11110000 else 3 if o >= 0b11100000 else 2
                    if seq_length != i:
                        truncated = truncated[:-i]
                    break
            return bytes(truncated)
        trim = 0
        while trim < self.max_bytes:
            truncated = raw[: self.max_bytes - trim]
            try:
                truncated.decode(self.encoding)
            except UnicodeDecodeError:
                trim += 1
            else:
                return bytes(truncated)
        raise ValueError("cannot truncate")

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, (str, bytes, bytearray)):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            text, e = self._uni._decode_one(v)
            if e is not None:
                return None, e
            text = self._uni._normalize_one(text)
            encoded = text.encode(self.encoding)
            if len(encoded) > self.max_bytes:
                replacement = self.truncate_string(self.prefix + text) if self.truncate else None
                return replacement, self.err("too_long", max_bytes=self.max_bytes, encoding=self.encoding)
            return encoded, None

        return self._map(sub, f)


class UuidK(Kernel):
    """Interpret as UUID; canonical ``uuid.UUID`` out; optional version
    pin (string.py:826-886)."""

    name = "uuid"
    CODE_INVALID = "not_uuid"
    CODE_WRONG_VERSION = "wrong_version"
    templates = {
        "not_uuid": "This value is not a well-formed UUID.",
        "wrong_version": "v{incoming} UUID not allowed (expected v{expected}).",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, version: int | None = None, as_str: bool = False):
        self.version = version
        self.as_str = as_str  # engine convenience: canonical string output

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, (str, _uuid.UUID)):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            try:
                u = v if isinstance(v, _uuid.UUID) else _uuid.UUID(hex=v)
            except ValueError:
                return None, self.err("not_uuid")
            if self.version not in (None, u.version):
                return None, self.err("wrong_version", incoming=u.version, expected=self.version)
            return (str(u) if self.as_str else u), None

        return self._map(sub, f)


class IpAddressK(Kernel):
    """inet_pton validation; IPv6 canonicalized via inet_ntop
    (string.py:143-214)."""

    name = "ip_address"
    CODE_INVALID = "not_ip_address"
    templates = {
        "not_ip_address": "This value is not a valid {ip_type} address.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, ipv4: bool = True, ipv6: bool = False):
        self.ipv4 = ipv4
        self.ipv6 = ipv6
        self.ip_type = "/".join(p for p in ["IPv4" if ipv4 else None, "IPv6" if ipv6 else None] if p)

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            if self.ipv4:
                try:
                    socket.inet_pton(socket.AF_INET, v)
                    return v, None
                except OSError:
                    pass
            if self.ipv6:
                try:
                    n = socket.inet_pton(socket.AF_INET6, v)
                    return socket.inet_ntop(socket.AF_INET6, n), None
                except OSError:
                    pass
            return None, self.err("not_ip_address", ip_type=self.ip_type)

        return self._map(sub, f)


class JsonDecodeK(Kernel):
    """json.loads with key order preserved (string.py:217-246)."""

    name = "json_decode"
    CODE_INVALID = "not_json"
    templates = {
        "not_json": "This value is not valid JSON.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def _apply(self, sub):
        def f(v):
            if not isinstance(v, str):
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="String"))
            try:
                return json.loads(v, object_pairs_hook=OrderedDict), None
            except ValueError:
                return None, self.err("not_json")

        return self._map(sub, f)


class ByteArrayK(Kernel):
    """Convert to bytearray; strings via encoding; iterables of ints each
    range-checked 0..255 (simple.py:63-125)."""

    name = "byte_array"
    CODE_BAD_ENCODING = "bad_encoding"
    templates = {
        "bad_encoding": "Unable to encode this value using {encoding}.",
        "wrong_type": "{incoming} is not valid (allowed types: {allowed}).",
    }

    def __init__(self, encoding: str = "utf-8"):
        self.encoding = encoding
        self._elem = None  # built lazily to avoid import cycle with spec

    def _element_chain(self):
        if self._elem is None:
            from filters_spark.functions.spec import ChainKernel

            self._elem = ChainKernel([TypeK((int,)), IntK(), MinK(0), MaxK(255)])
        return self._elem

    def _apply(self, sub):
        def f(v):
            if isinstance(v, bytearray):
                return v, None
            if isinstance(v, bytes):
                return bytearray(v), None
            if isinstance(v, str):
                try:
                    return bytearray(v, encoding=self.encoding), None
                except (UnicodeEncodeError, LookupError):
                    return None, self.err("bad_encoding", encoding=self.encoding)
            try:
                items = list(v)
            except TypeError:
                return None, ("", "wrong_type", self.msg("wrong_type", incoming=_type_name(type(v)), allowed="Array, String"))
            chain = self._element_chain()
            outs, errs = chain.apply(_obj(items, range(len(items))))
            for idx, e in errs.items():
                if e is not None:
                    k, code, msg = e[0]
                    return None, (f"{idx}.{k}" if k else str(idx), code, msg)
            return bytearray(outs.tolist()), None

        return self._map(sub, f)


# ---------------------------------------------------------------------------
# Temporal kernels (reference filters/simple.py:175-291)
# ---------------------------------------------------------------------------


class DatetimeK(Kernel):
    """Parse to UTC datetime (simple.py:175-265); naive input assumes
    ``timezone`` (int/float = UTC offset hours); always converts to UTC;
    ``naive=True`` strips tzinfo after conversion."""

    name = "datetime"
    CODE_INVALID = "not_datetime"
    templates = {"not_datetime": "This value does not appear to be a datetime."}

    def __init__(self, timezone=None, naive: bool = False):
        if not isinstance(timezone, tzinfo):
            if timezone in (0, None):
                timezone = _UTC
            else:
                timezone = _tzoffset(f"UTC{timezone:+}", float(timezone) * 3600.0)
        self.timezone = timezone
        self.naive = naive

    def _one(self, v):
        if isinstance(v, datetime):
            parsed = v
        elif isinstance(v, date):
            parsed = datetime.combine(v, time.min)
        elif isinstance(v, str):
            try:
                parsed = _dateutil_parse(v)
            except (ValueError, OverflowError):
                return None, self.err("not_datetime")
        else:
            return None, self.err("not_datetime")
        if not parsed.tzinfo:
            parsed = parsed.replace(tzinfo=self.timezone)
        aware = parsed.astimezone(_UTC)
        return (aware.replace(tzinfo=None) if self.naive else aware), None

    def _apply(self, sub):
        return self._map(sub, self._one)


class DateK(DatetimeK):
    """Datetime then ``.date()``; date objects pass through unchanged
    (simple.py:268-291)."""

    name = "date"
    CODE_INVALID = "not_date"
    templates = {"not_date": "This value does not appear to be a date."}

    def _apply(self, sub):
        def f(v):
            if isinstance(v, date) and not isinstance(v, datetime):
                return v, None
            dt, e = self._one(v)
            if e is not None:
                return None, ("", "not_date", self.msg("not_date"))
            return dt.date(), None

        return self._map(sub, f)
