"""From-scratch JSON Schema 2020-12 evaluator (driver + Arrow-batch kernel).

This is the semantic core the Spark lowerings must agree with. It
reproduces *what* jschon computes — keyword semantics, per-document
verdicts, JSON-pointer-addressed violations (the ``basic`` output
format, /root/reference/jschon/output.py:46-70) — with a completely
different shape: a closed-form recursive function over plain dicts, no
per-keyword object graph, designed to be called once per document
inside a vectorized Arrow batch (lowering/batch.py) or as the pytest
oracle.

Semantics cross-checked against the reference:
  * type tags: bool before int, number covers int|float
    (/root/reference/jschon/json.py:120-151)
  * ``integer`` accepts whole floats
    (/root/reference/jschon/vocabulary/validation.py:40-41)
  * deep equality with cross-type numeric equality, bool ≠ number
    (/root/reference/jschon/json.py:277-289)
  * multipleOf in exact decimal arithmetic
    (/root/reference/jschon/vocabulary/validation.py:66-75)
  * contains/minContains/maxContains annotation coupling
    (/root/reference/jschon/vocabulary/validation.py:180-212)
  * unevaluated* driven by annotation coverage incl. through $ref and
    if/then/else (/root/reference/jschon/vocabulary/applicator.py:190-245,346-390)
  * $dynamicRef rebinds to the outermost dynamic-scope $dynamicAnchor
    (/root/reference/jschon/vocabulary/core.py:121-169)
"""

from __future__ import annotations

import ipaddress
import re
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from typing import Any, Callable

from jschon_spark.schema.catalog import (
    SchemaCatalog,
    pointer_escape,
)

# --------------------------------------------------------------------------
# JSON type model
# --------------------------------------------------------------------------

from functools import lru_cache


@lru_cache(maxsize=4096)
def _urljoin_base(base_uri: str, sid: str) -> str:
    from urllib.parse import urljoin

    return urljoin(base_uri, sid).split("#", 1)[0]


def json_type(value: Any) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):  # bool BEFORE int: true is not a number
        return "boolean"
    if isinstance(value, (int, float)):
        return "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, list):
        return "array"
    if isinstance(value, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(value)}")


def matches_type(value: Any, t: str) -> bool:
    jt = json_type(value)
    if t == "integer":
        # isinstance check, not float(value) == int(value): ints above
        # ~1e308 overflow float() (a 400-digit int must still be an
        # "integer"), and bool is already excluded by json_type
        if jt != "number":
            return False
        return isinstance(value, int) or value.is_integer()
    return jt == t


def json_equal(a: Any, b: Any) -> bool:
    """Deep equality: 1 == 1.0, but true != 1; objects by key set."""
    ta, tb = json_type(a), json_type(b)
    if ta != tb:
        return False
    if ta == "number":
        # exact mathematical equality: float() would collapse integers
        # above 2^53 (the reference compares exact Python values,
        # /root/reference/jschon/json.py:277-289)
        return _dec(a) == _dec(b)
    if ta == "array":
        return len(a) == len(b) and all(json_equal(x, y) for x, y in zip(a, b))
    if ta == "object":
        return a.keys() == b.keys() and all(json_equal(v, b[k]) for k, v in a.items())
    return a == b


def _dec(x: Any) -> Decimal:
    return Decimal(repr(x) if isinstance(x, float) else str(x))


def is_multiple_of(value: Any, divisor: Any) -> bool:
    """Exact multipleOf: Decimal modulo, falling back to Fraction when
    the quotient exceeds the decimal context precision (Decimal raises
    DivisionImpossible for e.g. 1e30 % 2 — one extreme document must
    not kill a whole task)."""
    try:
        return _dec(value) % _dec(divisor) == 0
    except InvalidOperation:
        from fractions import Fraction

        return Fraction(_dec(value)) % Fraction(_dec(divisor)) == 0


# --------------------------------------------------------------------------
# format registry (assertion optional, annotation-only by default —
# /root/reference/jschon/vocabulary/format.py:14-32)
# --------------------------------------------------------------------------

def _fmt_json_pointer(v: str) -> bool:
    # RFC 6901: empty, or '/'-led tokens with '~' only as ~0/~1
    return re.fullmatch(r"(/([^~/]|~[01])*)*", v) is not None


def _fmt_ipv4(v: str) -> bool:
    try:
        ipaddress.IPv4Address(v)
        return True
    except ValueError:
        return False


def _fmt_ipv6(v: str) -> bool:
    # RFC 4291 textual form has no zone-ID suffix; Python's
    # IPv6Address accepts "%zone" since 3.9, so gate it out explicitly
    if "%" in v:
        return False
    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


# ASCII-pinned ([0-9], not \d): Python \d is unicode-wide (and int()
# parses Arabic-Indic digits), but RFC 3339's DIGIT is ASCII and the
# typed path's Java \d is ASCII — [0-9] makes all three read the same.
_DATE_RE = re.compile(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
# RFC 3339 ranges (round 5): hour 00-23, minute 00-59, second 00-60
# (60 = leap second, accepted at any offset — the pragmatic RFC
# grammar; strictly it only occurs at 23:59:60 UTC), offset hour/min
# range-checked too. Keep in sync with _FORMAT_REGEX in lowering/columns.py.
_TIME_RE = re.compile(
    r"^([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\.[0-9]+)?"
    r"([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
)
_DATETIME_RE = re.compile(
    r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt]([01][0-9]|2[0-3]):[0-5][0-9]:"
    r"([0-5][0-9]|60)(\.[0-9]+)?([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
)
_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)

_MDAYS = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _valid_ymd(v10: str) -> bool:
    """Calendar validity of a 'YYYY-MM-DD' prefix. RFC 3339 allows
    years 0000-9999 (proleptic Gregorian — year 0 IS a leap year), so
    this is hand-rolled rather than date.fromisoformat (which rejects
    year 0); matches Spark's try_to_timestamp on the Column side."""
    y, m, d = int(v10[0:4]), int(v10[5:7]), int(v10[8:10])
    if not 1 <= m <= 12:
        return False
    days = _MDAYS[m - 1]
    if m == 2 and y % 4 == 0 and (y % 100 != 0 or y % 400 == 0):
        days = 29
    return 1 <= d <= days


def _fmt_date(v: str) -> bool:
    return bool(_DATE_RE.match(v)) and _valid_ymd(v)


def _fmt_datetime(v: str) -> bool:
    return bool(_DATETIME_RE.match(v)) and _valid_ymd(v[:10])


FORMAT_VALIDATORS: dict[str, tuple[Callable[[Any], bool], tuple[str, ...]]] = {
    # name -> (validator, instance types it applies to)
    "json-pointer": (_fmt_json_pointer, ("string",)),
    "ipv4": (_fmt_ipv4, ("string",)),
    "ipv6": (_fmt_ipv6, ("string",)),
    "date": (_fmt_date, ("string",)),
    "time": (lambda v: bool(_TIME_RE.match(v)), ("string",)),
    "date-time": (_fmt_datetime, ("string",)),
    "uuid": (lambda v: bool(_UUID_RE.match(v)), ("string",)),
    "regex": (lambda v: _is_regex(v), ("string",)),
    # RFC 3986: a scheme, then only unreserved / reserved / %-encoded
    # characters (a raw space or bracket-free '%' is invalid)
    "uri": (
        lambda v: bool(
            re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", v)
            and re.fullmatch(
                r"(?:%[0-9A-Fa-f]{2}|[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=])*", v
            )
        ),
        ("string",),
    ),
    # round 2: pragmatic forms of the remaining common 2020-12 formats
    # (the reference ships only json-pointer, formats.py:5-9; the rest
    # of this registry is engine surface beyond parity)
    "hostname": (lambda v: bool(_HOSTNAME_RE.match(v)), ("string",)),
    "email": (lambda v: bool(_EMAIL_RE.match(v)), ("string",)),
    "duration": (lambda v: bool(_DURATION_RE.match(v)), ("string",)),
    "relative-json-pointer": (lambda v: bool(_REL_PTR_RE.match(v)), ("string",)),
    # round 5: the remaining 2020-12 format-vocabulary names, pragmatic
    # RFC 3986/3987/6570/5890 forms — the regex SOURCE STRINGS are
    # shared verbatim with lowering/columns.py's _FORMAT_REGEX (they
    # avoid \s and \w, whose unicode semantics differ between Python
    # re and Java), so both paths compile the identical pattern;
    # idn-hostname is per-label Python logic with a \p{L}\p{N} Java
    # twin (agreement pinned by the conformance corpus's literal
    # expectations)
    "uri-reference": (lambda v: bool(re.fullmatch(URI_REFERENCE_PATTERN, v)), ("string",)),
    "iri": (lambda v: bool(re.fullmatch(IRI_PATTERN, v)), ("string",)),
    "iri-reference": (lambda v: bool(re.fullmatch(IRI_REFERENCE_PATTERN, v)), ("string",)),
    "uri-template": (lambda v: bool(re.fullmatch(URI_TEMPLATE_PATTERN, v)), ("string",)),
    "idn-email": (lambda v: bool(re.fullmatch(IDN_EMAIL_PATTERN, v)), ("string",)),
    "idn-hostname": (lambda v: _fmt_idn_hostname(v), ("string",)),
}

# RFC 3986 pchar-superset (any URI component character or %-escape)
_URI_CHAR = r"(?:%[0-9A-Fa-f]{2}|[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=])"
# RFC 3987 adds ucschar (>= U+00A0); pragmatically: any non-ASCII
_IRI_CHAR = r"(?:%[0-9A-Fa-f]{2}|[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=]|[^\x00-\x7F])"
URI_REFERENCE_PATTERN = rf"{_URI_CHAR}*"
IRI_PATTERN = rf"(?=[A-Za-z][A-Za-z0-9+.-]*:){_IRI_CHAR}*"
IRI_REFERENCE_PATTERN = rf"{_IRI_CHAR}*"
# RFC 6570: literals (no braces/controls/space) and {op? varspec,+}
_TPL_VAR = r"(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2})(?:\.?(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2}))*"
_TPL_SPEC = rf"{_TPL_VAR}(?:\*|:[1-9][0-9]{{0,3}})?"
URI_TEMPLATE_PATTERN = (
    rf"(?:[^{{}}\x00-\x20\x7F]|\{{[+#./;?&=,!@|]?{_TPL_SPEC}(?:,{_TPL_SPEC})*\}})*"
)
# controls/space/DEL excluded explicitly (NOT \s: Java \s is
# ASCII-only, Python's is unicode — U+00A0 must be LEGAL both sides)
IDN_EMAIL_PATTERN = (
    r"[^@\x00-\x20\x7F]+@[^@\x00-\x20\x7F]+\.[^@\x00-\x20\x7F]+"
)


_IDN_LETTER_CATS = ("Ll", "Lu", "Lo", "Lm", "Lt")
_IDN_MARK_CATS = ("Mn", "Mc", "Me")


def _idn_name_is(ch: str, *prefixes: str) -> bool:
    import unicodedata as _ud

    name = _ud.name(ch, "")
    return name.startswith(prefixes)


def _idn_valid_ulabel(lab: str, bidi_domain: bool) -> bool:
    """One decoded U-label (or plain LDH label) against RFC 5891
    §4.2.3 placement rules, the RFC 5892 CONTEXTJ/CONTEXTO rules, NFC
    stability, and (when the whole name is a Bidi domain) the RFC
    5893 Bidi rule."""
    import unicodedata as _ud

    if not lab or len(lab) > 63:
        return False
    if lab[0] == "-" or lab[-1] == "-":
        return False
    # RFC 5891 4.2.3.1: hyphens in positions 3+4 are reserved for the
    # ACE prefix; any label still carrying them here is not a valid
    # A-label (those were decoded before this check) -> reject
    if len(lab) >= 4 and lab[2] == "-" and lab[3] == "-":
        return False
    if _ud.category(lab[0]) in _IDN_MARK_CATS:  # RFC 5891 4.2.3.2
        return False
    if _ud.normalize("NFC", lab) != lab:  # U-labels must be NFC
        return False
    for i, ch in enumerate(lab):
        if ch == "-":
            continue
        o = ord(ch)
        if o < 128:
            if not (ch.isalpha() or ch.isdigit()):
                return False
            continue
        if o == 0x200C:  # ZWNJ (CONTEXTJ): only after a virama
            if i == 0 or _ud.combining(lab[i - 1]) != 9:
                return False
            continue
        if o == 0x200D:  # ZWJ (CONTEXTJ): only after a virama
            if i == 0 or _ud.combining(lab[i - 1]) != 9:
                return False
            continue
        if o == 0x00B7:  # MIDDLE DOT (CONTEXTO): between two 'l'
            if (i == 0 or i == len(lab) - 1
                    or lab[i - 1] != "l" or lab[i + 1] != "l"):
                return False
            continue
        if o == 0x0375:  # GREEK KERAIA (CONTEXTO): before Greek
            if i == len(lab) - 1 or not _idn_name_is(lab[i + 1], "GREEK"):
                return False
            continue
        if o in (0x05F3, 0x05F4):  # GERESH/GERSHAYIM: after Hebrew
            if i == 0 or not _idn_name_is(lab[i - 1], "HEBREW"):
                return False
            continue
        if o == 0x30FB:  # KATAKANA MIDDLE DOT: label needs Japanese
            # the dot itself is named KATAKANA* but its script is
            # Common — it must not satisfy its own requirement
            if not any(
                ord(c2) != 0x30FB
                and _idn_name_is(c2, "HIRAGANA", "KATAKANA", "CJK")
                for c2 in lab
            ):
                return False
            continue
        cat = _ud.category(ch)
        if cat not in _IDN_LETTER_CATS + _IDN_MARK_CATS and cat != "Nd":
            return False
    # CONTEXTO: ARABIC-INDIC and EXTENDED ARABIC-INDIC digits must not
    # mix within a label
    if any(0x0660 <= ord(c) <= 0x0669 for c in lab) and any(
        0x06F0 <= ord(c) <= 0x06F9 for c in lab
    ):
        return False
    if bidi_domain:
        d0 = _ud.bidirectional(lab[0])
        if d0 in ("R", "AL"):
            rtl = True
        elif d0 == "L":
            rtl = False
        else:
            return False  # Bidi rule 1
        allowed = (
            {"R", "AL", "AN", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"}
            if rtl
            else {"L", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"}
        )
        if any(_ud.bidirectional(c) not in allowed for c in lab):
            return False  # Bidi rules 2 and 5
        j = len(lab) - 1
        while j >= 0 and _ud.bidirectional(lab[j]) == "NSM":
            j -= 1
        last = _ud.bidirectional(lab[j])
        if rtl and last not in ("R", "AL", "EN", "AN"):
            return False  # Bidi rule 3
        if not rtl and last not in ("L", "EN"):
            return False  # Bidi rule 6
        if rtl and any(_ud.bidirectional(c) == "EN" for c in lab) and any(
            _ud.bidirectional(c) == "AN" for c in lab
        ):
            return False  # Bidi rule 4
    return True


def _fmt_idn_hostname(v: str) -> bool:
    """RFC 5890/5891 internationalized hostname (round 6 — upgraded
    from the per-label letter/digit heuristic): per-label U-label
    validation with the RFC 5892 CONTEXTJ/CONTEXTO rules (ZWNJ/ZWJ
    only after a virama, l·l MIDDLE DOT, Greek keraia, Hebrew
    geresh/gershayim, katakana middle dot, no Arabic digit-set
    mixing), NFC stability, no leading combining mark, RFC 5891
    hyphen placement, and the RFC 5893 Bidi rule applied across the
    whole name when any label is right-to-left. ``xn--`` A-labels are
    punycode-decoded (RFC 3492) and the DECODED U-label is validated.

    Documented pragmatic residue: the RFC 5892 derived-property
    tables are not vendored, so Appendix B exception code points and
    case/NFKC-unstable characters (e.g. uppercase non-ASCII letters)
    are accepted where strict IDNA2008 would reject.

    This format has NO Column lowering (the contextual/bidi rules are
    beyond Java regex) — typed/variant paths route schemas using it
    to the batch evaluator."""
    if not v or len(v) > 253:
        return False
    labels = []
    for lab in v.split("."):
        if not lab or len(lab) > 63:
            return False
        low = lab.lower() if lab.isascii() else lab
        if low.startswith("xn--") and lab.isascii():
            try:
                decoded = low[4:].encode("ascii").decode("punycode")
            except UnicodeError:
                return False
            if not decoded or decoded.isascii():
                return False  # A-label must encode actual unicode
            labels.append(decoded)
        else:
            labels.append(lab)
    import unicodedata as _ud

    bidi_domain = any(
        _ud.bidirectional(c) in ("R", "AL", "AN")
        for lab in labels
        for c in lab
    )
    return all(_idn_valid_ulabel(lab, bidi_domain) for lab in labels)

_HOSTNAME_RE = re.compile(
    r"^(?=.{1,253}$)([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)*"
    r"[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?$"
)
# explicit ASCII whitespace (= Java \s), not Python's unicode-wide \s,
# so typed and batch read the same character set
_EMAIL_RE = re.compile(r"^[^@ \t\n\x0B\f\r]+@[^@ \t\n\x0B\f\r]+\.[^@ \t\n\x0B\f\r]+$")
_DURATION_RE = re.compile(
    r"^P(?!$)([0-9]+Y)?([0-9]+M)?([0-9]+W)?([0-9]+D)?"
    r"(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?$"
)
_REL_PTR_RE = re.compile(r"^(0|[1-9][0-9]*)(#|(/([^~/]|~[01])*)*)$")


def _is_regex(v: str) -> bool:
    try:
        re.compile(v)
        return True
    except re.error:
        return False


# --------------------------------------------------------------------------
# outcome model (≅ jschon Result tree flattened to the basic format)
# --------------------------------------------------------------------------

@dataclass
class Violation:
    keyword: str
    instance_path: str
    keyword_path: str
    error: str


@dataclass
class Outcome:
    valid: bool
    errors: list[Violation] = field(default_factory=list)
    # annotation coverage at the CURRENT instance location, used by
    # unevaluatedItems/unevaluatedProperties (item coverage is tracked
    # as concrete indices — we always enumerate the actual instance)
    evaluated_props: set = field(default_factory=set)
    evaluated_items: set = field(default_factory=set)
    # indices matched by `contains`, kept SEPARATE from evaluated_items:
    # 2020-12 unevaluatedItems counts them as evaluated, but the
    # 2019-09 form collects only items/additionalItems/unevaluatedItems
    # annotations (reference legacy.py:115-147 — contains matches stay
    # unevaluated under 2019-09)
    contains_items: set = field(default_factory=set)


_IN_PLACE = ("$ref", "$dynamicRef", "allOf", "anyOf", "oneOf",
             "if", "then", "else", "dependentSchemas", "not")


class Evaluator:
    """Evaluate instances against schemas registered in a SchemaCatalog."""

    def __init__(
        self,
        catalog: SchemaCatalog | None = None,
        assert_formats: bool = False,
        format_validators: dict | None = None,
    ) -> None:
        self.catalog = catalog or SchemaCatalog()
        self.assert_formats = assert_formats
        self.formats = dict(FORMAT_VALIDATORS)
        # user-registered formats (functions/registry.py) join the
        # built-ins, mirroring jschon's format_validator plugin surface
        from jschon_spark.functions.registry import FORMAT_REGISTRY

        for name, entry in FORMAT_REGISTRY.items():
            self.formats[name] = (entry.python_fn, entry.instance_types)
        if format_validators:
            self.formats.update(format_validators)
        self._pattern_cache: dict[str, re.Pattern] = {}
        # $schema URI -> does its (catalog-resolvable) metaschema
        # declare the format-assertion vocabulary? (round 6)
        self._fmt_assert_cache: dict[str, bool] = {}

    # -- public API ------------------------------------------------------
    def validate(self, schema: Any, instance: Any, uri: str | None = None) -> Outcome:
        base = self.catalog.register(schema, uri)
        return self._eval(schema, instance, base, [base], "", "")

    @staticmethod
    def _dialect_of(uri: str) -> str | None:
        if "2019-09" in uri:
            return "2019-09"
        if "2020-12" in uri or "draft/next" in uri:
            return "2020-12"
        return None

    def _metaschema_asserts_format(self, meta_uri: str) -> bool:
        """True when ``$schema`` points at a catalog-resolvable custom
        metaschema whose ``$vocabulary`` DECLARES the format-assertion
        vocabulary (2020-12 §7.2: declaring it — required true or
        false — makes ``format`` an assertion, independent of the
        engine-level assert_formats switch). Standard json-schema.org
        metaschemas use format-annotation and are never resolvable
        here, so they keep the engine default. Round 6."""
        cached = self._fmt_assert_cache.get(meta_uri)
        if cached is not None:
            return cached
        val = False
        try:
            target, _ = self.catalog.resolve(meta_uri, meta_uri)
            vocab = target.get("$vocabulary") if isinstance(target, dict) else None
            if isinstance(vocab, dict):
                val = any("/vocab/format-assertion" in u for u in vocab)
        except Exception:
            val = False
        self._fmt_assert_cache[meta_uri] = val
        return val

    # -- helpers ----------------------------------------------------------
    def _pat(self, pattern: str) -> re.Pattern:
        p = self._pattern_cache.get(pattern)
        if p is None:
            p = self._pattern_cache[pattern] = re.compile(pattern)
        return p

    # -- core recursive evaluation ----------------------------------------
    def _eval(
        self,
        schema: Any,
        instance: Any,
        base_uri: str,
        dynamic_scope: list[str],
        ipath: str,
        kpath: str,
        dialect: str = "2020-12",
        fmt_assert: bool = False,
    ) -> Outcome:
        if isinstance(schema, bool):
            if schema:
                return Outcome(True)
            # attribute the failure to the keyword holding the false schema
            kw = kpath.rsplit("/", 1)[-1] if kpath else ""
            return Outcome(
                False,
                [Violation(kw, ipath, kpath, "boolean schema false permits nothing")],
            )
        if not isinstance(schema, dict):
            raise TypeError(f"schema must be bool or object at {kpath!r}")

        # entering a schema object with $id = entering a resource:
        # push onto the dynamic scope. urljoin is memoized — it costs
        # ~25% of a violation walk when called per visit (profiled),
        # and (base, $id) pairs are a tiny fixed set per schema.
        if isinstance(schema.get("$id"), str):
            base_uri = _urljoin_base(base_uri, schema["$id"])
        if not dynamic_scope or dynamic_scope[-1] != base_uri:
            dynamic_scope = dynamic_scope + [base_uri]
        if isinstance(schema.get("$schema"), str):
            d = self._dialect_of(schema["$schema"])
            if d:
                dialect = d
            # a resource's own metaschema decides whether `format`
            # asserts there (REPLACES the inherited setting — each
            # resource is governed by its own dialect)
            fmt_assert = self._metaschema_asserts_format(schema["$schema"])

        out = Outcome(True)
        jt = json_type(instance)

        def err(keyword: str, msg: str) -> None:
            out.valid = False
            out.errors.append(
                Violation(keyword, ipath, f"{kpath}/{keyword}", msg)
            )

        def sub(
            subschema: Any, subinstance: Any, kw_suffix: str, i_suffix: str = ""
        ) -> Outcome:
            return self._eval(
                subschema,
                subinstance,
                base_uri,
                dynamic_scope,
                ipath + i_suffix,
                f"{kpath}/{kw_suffix}",
                dialect,
                fmt_assert,
            )

        def absorb(o: Outcome, keyword: str, msg: str | None = None) -> None:
            """Merge a failed in-place child: record its errors."""
            out.valid = False
            if msg:
                out.errors.append(
                    Violation(keyword, ipath, f"{kpath}/{keyword}", msg)
                )
            out.errors.extend(o.errors)

        def merge_annotations(o: Outcome) -> None:
            if o.valid:
                out.evaluated_props |= o.evaluated_props
                out.evaluated_items |= o.evaluated_items
                out.contains_items |= o.contains_items

        # ---- $ref / $dynamicRef (in-place, annotations pass through) ---
        if "$ref" in schema:
            target, tbase = self.catalog.resolve(schema["$ref"], base_uri)
            o = self._eval(target, instance, tbase, dynamic_scope, ipath, f"{kpath}/$ref", dialect, fmt_assert)
            merge_annotations(o)
            if not o.valid:
                absorb(o, "$ref")

        if "$dynamicRef" in schema:
            ref = schema["$dynamicRef"]
            target, tbase = self.catalog.resolve(ref, base_uri)
            frag = ref.split("#", 1)[1] if "#" in ref else ""
            # rebind only if the initial target is itself a $dynamicAnchor
            if (
                frag
                and not frag.startswith("/")
                and isinstance(target, dict)
                and target.get("$dynamicAnchor") == frag
            ):
                for scope_base in dynamic_scope:  # outermost first
                    cand = self.catalog.dynamic_anchor(scope_base, frag)
                    if cand is not None:
                        target, tbase = cand, scope_base
                        break
            o = self._eval(target, instance, tbase, dynamic_scope, ipath, f"{kpath}/$dynamicRef", dialect, fmt_assert)
            merge_annotations(o)
            if not o.valid:
                absorb(o, "$dynamicRef")

        if "$recursiveRef" in schema:
            # 2019-09 legacy dynamic scoping: value is always "#"
            # (/root/reference/jschon/vocabulary/legacy.py:16-53)
            target, tbase = self.catalog.resolve(schema["$recursiveRef"], base_uri)
            if isinstance(target, dict) and target.get("$recursiveAnchor") is True:
                for scope_base in dynamic_scope:  # outermost first
                    if self.catalog.has_recursive_anchor(scope_base):
                        target, tbase = self.catalog.resolve("#", scope_base)
                        break
            o = self._eval(target, instance, tbase, dynamic_scope, ipath,
                           f"{kpath}/$recursiveRef", dialect, fmt_assert)
            merge_annotations(o)
            if not o.valid:
                absorb(o, "$recursiveRef")

        # ---- validation keywords (leaf predicates) ---------------------
        if "type" in schema:
            types = schema["type"]
            # fast path reusing the jt computed above — json_type per
            # candidate type was a measurable slice of the walk
            if isinstance(types, str):
                ok = jt == types or (
                    types == "integer"
                    and jt == "number"
                    and (isinstance(instance, int) or instance.is_integer())
                )
            else:
                ok = any(
                    jt == t
                    or (
                        t == "integer"
                        and jt == "number"
                        and (isinstance(instance, int) or instance.is_integer())
                    )
                    for t in types
                )
            if not ok:
                err("type", f"instance type {jt} does not match {types}")

        if "enum" in schema:
            if not any(json_equal(instance, v) for v in schema["enum"]):
                err("enum", "value not found in enumeration")

        if "const" in schema:
            if not json_equal(instance, schema["const"]):
                err("const", "value does not equal the constant")

        if jt == "number":
            if "multipleOf" in schema:
                if not is_multiple_of(instance, schema["multipleOf"]):
                    err("multipleOf", f"not a multiple of {schema['multipleOf']}")
            if "maximum" in schema and not instance <= schema["maximum"]:
                err("maximum", f"exceeds maximum {schema['maximum']}")
            if "exclusiveMaximum" in schema and not instance < schema["exclusiveMaximum"]:
                err("exclusiveMaximum", f"not below {schema['exclusiveMaximum']}")
            if "minimum" in schema and not instance >= schema["minimum"]:
                err("minimum", f"below minimum {schema['minimum']}")
            if "exclusiveMinimum" in schema and not instance > schema["exclusiveMinimum"]:
                err("exclusiveMinimum", f"not above {schema['exclusiveMinimum']}")

        if jt == "string":
            if "maxLength" in schema and len(instance) > schema["maxLength"]:
                err("maxLength", f"longer than {schema['maxLength']}")
            if "minLength" in schema and len(instance) < schema["minLength"]:
                err("minLength", f"shorter than {schema['minLength']}")
            if "pattern" in schema and not self._pat(schema["pattern"]).search(instance):
                err("pattern", f"does not match pattern {schema['pattern']!r}")

        if jt == "array":
            if "maxItems" in schema and len(instance) > schema["maxItems"]:
                err("maxItems", f"more than {schema['maxItems']} items")
            if "minItems" in schema and len(instance) < schema["minItems"]:
                err("minItems", f"fewer than {schema['minItems']} items")
            if schema.get("uniqueItems"):
                dup = False
                for i in range(len(instance)):
                    for j in range(i + 1, len(instance)):
                        if json_equal(instance[i], instance[j]):
                            dup = True
                            break
                    if dup:
                        break
                if dup:
                    err("uniqueItems", "array items are not unique")

        if jt == "object":
            keys = list(instance.keys())
            if "maxProperties" in schema and len(keys) > schema["maxProperties"]:
                err("maxProperties", f"more than {schema['maxProperties']} properties")
            if "minProperties" in schema and len(keys) < schema["minProperties"]:
                err("minProperties", f"fewer than {schema['minProperties']} properties")
            if "required" in schema:
                missing = [k for k in schema["required"] if k not in instance]
                if missing:
                    err("required", f"missing required properties {missing}")
            if "dependentRequired" in schema:
                for k, deps in schema["dependentRequired"].items():
                    if k in instance:
                        missing = [d for d in deps if d not in instance]
                        if missing:
                            err(
                                "dependentRequired",
                                f"property {k!r} requires {missing}",
                            )

        if "format" in schema and (self.assert_formats or fmt_assert):
            entry = self.formats.get(schema["format"])
            if entry is not None:
                fn, types_ = entry
                if jt in types_ and not fn(instance):
                    err("format", f"not a valid {schema['format']}")

        # ---- array applicators ------------------------------------------
        contains_count = None
        if jt == "array" and dialect == "2019-09" and isinstance(schema.get("items"), list):
            # 2019-09 tuple-form items + additionalItems
            # (/root/reference/jschon/vocabulary/legacy.py:56-211)
            tuple_items = schema["items"]
            n_prefix = min(len(tuple_items), len(instance))
            for i in range(n_prefix):
                o = sub(tuple_items[i], instance[i], f"items/{i}", f"/{i}")
                if o.valid:
                    out.evaluated_items.add(i)
                else:
                    absorb(o, "items")
            if "additionalItems" in schema:
                for i in range(len(tuple_items), len(instance)):
                    o = sub(schema["additionalItems"], instance[i], "additionalItems", f"/{i}")
                    if o.valid:
                        out.evaluated_items.add(i)
                    else:
                        absorb(o, "additionalItems")
        elif jt == "array":
            n_prefix = 0
            if "prefixItems" in schema:
                n_prefix = min(len(schema["prefixItems"]), len(instance))
                for i in range(n_prefix):
                    o = sub(schema["prefixItems"][i], instance[i], f"prefixItems/{i}", f"/{i}")
                    if o.valid:
                        out.evaluated_items.add(i)
                    else:
                        absorb(o, "prefixItems")
            if "items" in schema:
                for i in range(len(schema.get("prefixItems", [])), len(instance)):
                    o = sub(schema["items"], instance[i], "items", f"/{i}")
                    if o.valid:
                        out.evaluated_items.add(i)
                    else:
                        absorb(o, "items")
        if jt == "array" and "contains" in schema:
            # runs in BOTH dialect branches: 2019-09 keeps contains alongside
            # tuple-form items (/root/reference/jschon/vocabulary/applicator.py)
            matched = []
            for i, item in enumerate(instance):
                o = sub(schema["contains"], item, "contains", f"/{i}")
                if o.valid:
                    matched.append(i)
                    out.contains_items.add(i)
            contains_count = len(matched)
            min_c = schema.get("minContains", 1)
            if contains_count == 0 and min_c > 0:
                err("contains", "no array items match the contains schema")
            if "maxContains" in schema and contains_count > schema["maxContains"]:
                err("maxContains", f"more than {schema['maxContains']} matching items")
            if "minContains" in schema and contains_count < schema["minContains"]:
                err("minContains", f"fewer than {schema['minContains']} matching items")

        # ---- object applicators ------------------------------------------
        if jt == "object":
            matched_by_props: set[str] = set()
            if "properties" in schema:
                for name, subschema in schema["properties"].items():
                    if name in instance:
                        matched_by_props.add(name)
                        o = sub(
                            subschema,
                            instance[name],
                            f"properties/{pointer_escape(name)}",
                            f"/{pointer_escape(name)}",
                        )
                        if o.valid:
                            out.evaluated_props.add(name)
                        else:
                            absorb(o, "properties")
            if "patternProperties" in schema:
                for pattern, subschema in schema["patternProperties"].items():
                    pat = self._pat(pattern)
                    for name in instance:
                        if pat.search(name):
                            matched_by_props.add(name)
                            o = sub(
                                subschema,
                                instance[name],
                                f"patternProperties/{pointer_escape(pattern)}",
                                f"/{pointer_escape(name)}",
                            )
                            if o.valid:
                                out.evaluated_props.add(name)
                            else:
                                absorb(o, "patternProperties")
            if "additionalProperties" in schema:
                for name in instance:
                    if name not in matched_by_props:
                        o = sub(
                            schema["additionalProperties"],
                            instance[name],
                            "additionalProperties",
                            f"/{pointer_escape(name)}",
                        )
                        if o.valid:
                            out.evaluated_props.add(name)
                        else:
                            absorb(o, "additionalProperties")
            if "propertyNames" in schema:
                for name in instance:
                    o = sub(schema["propertyNames"], name, "propertyNames")
                    if not o.valid:
                        absorb(
                            o,
                            "propertyNames",
                            f"property name {name!r} is invalid",
                        )
            if "dependentSchemas" in schema:
                for k, subschema in schema["dependentSchemas"].items():
                    if k in instance:
                        o = sub(subschema, instance, f"dependentSchemas/{pointer_escape(k)}")
                        merge_annotations(o)
                        if not o.valid:
                            absorb(o, "dependentSchemas")

        # ---- logical combinators -----------------------------------------
        if "allOf" in schema:
            for i, s in enumerate(schema["allOf"]):
                o = sub(s, instance, f"allOf/{i}")
                merge_annotations(o)
                if not o.valid:
                    absorb(o, "allOf")
        if "anyOf" in schema:
            results = [sub(s, instance, f"anyOf/{i}") for i, s in enumerate(schema["anyOf"])]
            for o in results:
                merge_annotations(o)
            if not any(o.valid for o in results):
                out.valid = False
                out.errors.append(
                    Violation("anyOf", ipath, f"{kpath}/anyOf", "no subschema matched")
                )
                for o in results:
                    out.errors.extend(o.errors)
        if "oneOf" in schema:
            results = [sub(s, instance, f"oneOf/{i}") for i, s in enumerate(schema["oneOf"])]
            n_valid = sum(1 for o in results if o.valid)
            for o in results:
                merge_annotations(o)
            if n_valid != 1:
                out.valid = False
                out.errors.append(
                    Violation(
                        "oneOf", ipath, f"{kpath}/oneOf", f"{n_valid} subschemas matched, need exactly 1"
                    )
                )
        if "not" in schema:
            o = sub(schema["not"], instance, "not")
            if o.valid:
                err("not", "instance must not match the subschema")
        if "if" in schema:
            cond = sub(schema["if"], instance, "if")  # noassert: never fails parent
            if cond.valid:
                merge_annotations(cond)
                if "then" in schema:
                    o = sub(schema["then"], instance, "then")
                    merge_annotations(o)
                    if not o.valid:
                        absorb(o, "then")
            else:
                if "else" in schema:
                    o = sub(schema["else"], instance, "else")
                    merge_annotations(o)
                    if not o.valid:
                        absorb(o, "else")

        # ---- custom keywords (functions/registry.py) ---------------------
        from jschon_spark.functions.registry import KEYWORD_REGISTRY

        for kw_name, entry in KEYWORD_REGISTRY.items():
            if kw_name in schema and jt in entry.instance_types:
                pred = entry.python_fn(schema[kw_name])
                if not pred(instance):
                    err(kw_name, entry.error)

        # ---- unevaluated* (depend on every sibling's annotations) --------
        if "unevaluatedItems" in schema and jt == "array":
            # 2020-12/next: contains-matched items count as evaluated;
            # 2019-09 collects only items/additionalItems/
            # unevaluatedItems annotations (legacy.py:115-147), so
            # contains matches stay unevaluated there
            covered = (
                out.evaluated_items
                if dialect == "2019-09"
                else out.evaluated_items | out.contains_items
            )
            for i in range(len(instance)):
                if i in covered:
                    continue
                o = sub(schema["unevaluatedItems"], instance[i], "unevaluatedItems", f"/{i}")
                if o.valid:
                    out.evaluated_items.add(i)
                else:
                    absorb(o, "unevaluatedItems")
        if "unevaluatedProperties" in schema and jt == "object":
            for name in instance:
                if name in out.evaluated_props:
                    continue
                o = sub(
                    schema["unevaluatedProperties"],
                    instance[name],
                    "unevaluatedProperties",
                    f"/{pointer_escape(name)}",
                )
                if o.valid:
                    out.evaluated_props.add(name)
                else:
                    absorb(o, "unevaluatedProperties")

        # a failed schema contributes no annotations upward
        if not out.valid:
            out.evaluated_props = set()
            out.evaluated_items = set()
            out.contains_items = set()
        return out
