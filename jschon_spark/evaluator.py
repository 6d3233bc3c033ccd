"""From-scratch JSON Schema 2020-12 evaluator (driver + Arrow-batch kernel).

This is the semantic core the Spark lowerings must agree with. It
reproduces *what* jschon computes — keyword semantics, per-document
verdicts, JSON-pointer-addressed violations (the ``basic`` output
format, jschon's output.py:46-70) — with a different shape: one
keyword table (``_KEYWORDS``) whose entries compile a schema node's
keywords to closures once, as jschon compiles its keyword objects once
(jschon's jsonschema.py:27-125). A node compiles on its first visit
and a ``$ref`` resolves on its first visit. The closures run in two
modes: the valid-only predicate
(``Program.valid``, the batch path's filter and ``fastpath``), which
short-circuits and builds no paths, violations or annotation sets, and
the full walk (``Program.outcome``) that yields the Outcome. A node
holding unevaluated* walks in full for the predicate too, as it reads
its siblings' annotations. It runs once per document inside a
vectorized Arrow batch (lowering/batch.py) and as the pytest oracle.

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
import operator
import re
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from typing import Any, Callable

from jschon_spark.functions.registry import FORMAT_REGISTRY, KEYWORD_REGISTRY
from jschon_spark.schema.catalog import (
    SchemaCatalog,
    pointer_escape,
)

# --------------------------------------------------------------------------
# JSON type model
# --------------------------------------------------------------------------

from functools import lru_cache


# memoized: (base, $id) pairs are a tiny fixed set per schema, and
# urljoin cost ~25% of a violation walk when it ran per visit (profiled)
@lru_cache(maxsize=4096)
def _urljoin_base(base_uri: str, sid: str) -> str:
    from urllib.parse import urljoin

    return urljoin(base_uri, sid).split("#", 1)[0]


_TYPE_NAMES = {
    type(None): "null", bool: "boolean", int: "number", float: "number",
    str: "string", list: "array", dict: "object",
}


def json_type(value: Any) -> str:
    name = _TYPE_NAMES.get(value.__class__)
    if name is not None:
        return name
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


class _Frame:
    """The full walk at one (schema node, instance location): the
    Outcome being built and the paths its violations carry."""

    __slots__ = ("ipath", "kpath", "valid", "errors", "props", "items", "contains")

    def __init__(self, ipath: str, kpath: str) -> None:
        self.ipath = ipath
        self.kpath = kpath
        self.valid = True
        self.errors: list[Violation] = []
        self.props: set = set()
        self.items: set = set()
        self.contains: set = set()

    def fail(self, keyword: str, msg: str) -> None:
        self.valid = False
        self.errors.append(Violation(keyword, self.ipath, f"{self.kpath}/{keyword}", msg))

    def sub(self, cell: list, instance: Any, scope: list, kw: str, ip: str = "") -> _Frame:
        """Walk ``cell`` over ``instance`` at keyword path suffix ``kw``
        and instance path suffix ``ip``."""
        child = _Frame(self.ipath + ip, f"{self.kpath}/{kw}")
        cell[0](instance, scope, child)
        return child

    def absorb(self, o: _Frame, keyword: str, msg: str | None = None) -> None:
        """Record a failed child: a keyword row when ``msg``, then its errors."""
        if msg:
            self.fail(keyword, msg)
        self.valid = False
        self.errors.extend(o.errors)

    def merge(self, o: _Frame) -> None:
        if o.valid:
            self.props |= o.props
            self.items |= o.items
            self.contains |= o.contains

    def in_place(self, cell: list, instance: Any, scope: list, kw: str, keyword: str) -> bool:
        """A child at this instance location: its annotations pass
        through and its failure is absorbed."""
        o = self.sub(cell, instance, scope, kw)
        self.merge(o)
        if not o.valid:
            self.absorb(o, keyword)
        return o.valid

    def located(self, cell: list, instance: Any, scope: list, kw: str, keyword: str, key: Any) -> bool:
        """A child at member ``key`` (an item index or a property name):
        a pass marks the member evaluated, a failure is absorbed."""
        if isinstance(key, str):
            o, seen = self.sub(cell, instance, scope, kw, "/" + pointer_escape(key)), self.props
        else:
            o, seen = self.sub(cell, instance, scope, kw, f"/{key}"), self.items
        if o.valid:
            seen.add(key)
        else:
            self.absorb(o, keyword)
        return o.valid


# --------------------------------------------------------------------------
# compiled keywords
#
# A schema node compiles to ``run(instance, scope, frame) -> bool``:
# ``scope`` is the dynamic scope (base URIs of the resources entered,
# outermost first) and ``frame`` is None in the predicate mode, which
# short-circuits, or a _Frame in the full walk. Each keyword below
# compiles to a closure of the same signature, once per node; a
# subschema is a one-slot cell whose closure compiles the node on its
# first call and puts the result in its place.
# --------------------------------------------------------------------------

_NUMBER, _STRING, _ARRAY, _OBJECT = ("number",), ("string",), ("array",), ("object",)


def _check(keyword: str, test: Callable[[Any, Any], Any], value: Any, message: Any) -> Callable:
    """A keyword that tests the instance alone, as ``test(instance,
    value)``; ``message`` is the error, or a function of (instance,
    value) giving it."""
    def check(v, scope, f):
        if test(v, value):
            return True
        if f is not None:
            f.fail(keyword, message(v, value) if callable(message) else message)
        return False

    return check


def _members(keyword: str, members: Callable) -> Callable:
    """A keyword applying subschemas to members of the instance:
    ``members(v, f)`` lists their (key, cell, keyword path suffix)."""
    def check(v, scope, f):
        if f is None:
            for key, cell, _ in members(v, f):
                if not cell[0](v[key], scope, None):
                    return False
            return True
        ok = True
        for key, cell, kw in members(v, f):
            ok &= f.located(cell, v[key], scope, kw, keyword, key)
        return ok

    return check


def _in_place(keyword: str, cells: Callable) -> Callable:
    """A keyword applying subschemas to the instance itself:
    ``cells(v, scope)`` lists their (cell, keyword path suffix)."""
    def check(v, scope, f):
        if f is None:
            for cell, _ in cells(v, scope):
                if not cell[0](v, scope, None):
                    return False
            return True
        ok = True
        for cell, kw in cells(v, scope):
            ok &= f.in_place(cell, v, scope, kw, keyword)
        return ok

    return check


def _alone(keyword: str, cell: list) -> Callable:
    """An in-place keyword with one subschema."""
    subs = ((cell, keyword),)
    return _in_place(keyword, lambda v, scope: subs)


def _leaf(keyword: str, types: tuple | None, test: Callable, message: Any) -> tuple:
    """Table row of a keyword checked by ``test(instance, value)``; a
    string ``message`` formats the keyword's value into the error."""
    def build(schema, cx):
        value = schema[keyword]
        return _check(keyword, test, value,
                      message.format(value) if isinstance(message, str) else message)

    return keyword, types, build


def _is_type(v: Any, wanted: Any) -> bool:
    jt = json_type(v)
    if isinstance(wanted, str):
        if jt == wanted:
            return True
        integer = wanted == "integer"
    else:
        if jt in wanted:
            return True
        integer = "integer" in wanted
    # isinstance, not float(v) == int(v): ints above ~1e308 overflow float()
    return integer and jt == "number" and (isinstance(v, int) or v.is_integer())


def _applies(v: Any, spec: tuple) -> bool:
    """``spec`` = (predicate, JSON types it applies to)."""
    return json_type(v) not in spec[1] or spec[0](v)


def _unique(v: list, _: Any) -> bool:
    for i in range(len(v)):
        for j in range(i + 1, len(v)):
            if json_equal(v[i], v[j]):
                return False
    return True


def _accept(v, scope, f):
    return True


def _reject(v, scope, f):
    if f is not None:
        # attribute the failure to the keyword holding the false schema
        f.valid = False
        f.errors.append(Violation(f.kpath.rsplit("/", 1)[-1], f.ipath, f.kpath,
                                  "boolean schema false permits nothing"))
    return False


def _ref(schema, cx):
    ref = schema["$ref"]
    # resolved on the first visit, not at compile
    return _in_place("$ref", lambda v, scope: ((cx.ref(ref)[1], "$ref"),))


def _dynamic_ref(schema, cx):
    ref = schema["$dynamicRef"]
    frag = ref.split("#", 1)[1] if "#" in ref else ""
    catalog = cx.program.catalog

    def cells(v, scope):
        target, cell = cx.ref(ref)
        # rebind only if the initial target is itself a $dynamicAnchor
        if (
            frag
            and not frag.startswith("/")
            and isinstance(target, dict)
            and target.get("$dynamicAnchor") == frag
        ):
            for scope_base in scope:  # outermost first
                cand = catalog.dynamic_anchor(scope_base, frag)
                if cand is not None:
                    cell = cx.target(("$dynamicAnchor", scope_base, frag),
                                     lambda: (cand, scope_base))[1]
                    break
        return ((cell, "$dynamicRef"),)

    return _in_place("$dynamicRef", cells)


def _recursive_ref(schema, cx):
    # 2019-09 legacy dynamic scoping: value is always "#"
    # (jschon's vocabulary/legacy.py:16-53)
    ref = schema["$recursiveRef"]
    catalog = cx.program.catalog

    def cells(v, scope):
        target, cell = cx.ref(ref)
        if isinstance(target, dict) and target.get("$recursiveAnchor") is True:
            for scope_base in scope:  # outermost first
                if catalog.has_recursive_anchor(scope_base):
                    cell = cx.ref("#", scope_base)[1]
                    break
        return ((cell, "$recursiveRef"),)

    return _in_place("$recursiveRef", cells)


def _dependent_required(schema, cx):
    deps = tuple(schema["dependentRequired"].items())

    def check(v, scope, f):
        ok = True
        for k, needed in deps:
            missing = [d for d in needed if d not in v] if k in v else None
            if missing:
                if f is None:
                    return False
                ok = False
                f.fail("dependentRequired", f"property {k!r} requires {missing}")
        return ok

    return check


def _format(schema, cx):
    ev = cx.program.evaluator
    if not (ev.assert_formats or cx.fmt_assert):
        return None
    entry = ev.formats.get(schema["format"])
    return None if entry is None else _check(
        "format", _applies, entry, f"not a valid {schema['format']}")


def _tuple_form(schema, cx) -> bool:
    """2019-09 tuple-form items + additionalItems
    (jschon's vocabulary/legacy.py:56-211)."""
    return cx.dialect == "2019-09" and isinstance(schema.get("items"), list)


def _positional(keyword: str, subschemas: list, cx) -> Callable:
    subs = [(i, cx.child(s), f"{keyword}/{i}") for i, s in enumerate(subschemas)]
    return _members(keyword, lambda v, f: subs[:len(v)])


def _rest(keyword: str, subschema: Any, start: int, cx) -> Callable:
    """``subschema`` over every item from index ``start`` on."""
    cell = cx.child(subschema)
    return _members(keyword, lambda v, f: [(i, cell, keyword) for i in range(start, len(v))])


def _prefix_items(schema, cx):
    return None if _tuple_form(schema, cx) else _positional("prefixItems", schema["prefixItems"], cx)


def _items(schema, cx):
    if _tuple_form(schema, cx):
        return _positional("items", schema["items"], cx)
    return _rest("items", schema["items"], len(schema.get("prefixItems", [])), cx)


def _additional_items(schema, cx):
    if not _tuple_form(schema, cx):
        return None
    return _rest("additionalItems", schema["additionalItems"], len(schema["items"]), cx)


def _contains(schema, cx):
    cell = cx.child(schema["contains"])
    min_c = schema.get("minContains", 1)
    max_c = schema.get("maxContains")
    has_min, has_max = "minContains" in schema, "maxContains" in schema

    def check(v, scope, f):
        if f is None:
            n = sum(1 for x in v if cell[0](x, scope, None))
        else:
            n = 0
            for i, x in enumerate(v):
                if f.sub(cell, x, scope, "contains", f"/{i}").valid:
                    n += 1
                    f.contains.add(i)
        fails = []
        if n == 0 and min_c > 0:
            fails.append(("contains", "no array items match the contains schema"))
        if has_max and n > max_c:
            fails.append(("maxContains", f"more than {max_c} matching items"))
        if has_min and n < min_c:
            fails.append(("minContains", f"fewer than {min_c} matching items"))
        if f is not None:
            for keyword, msg in fails:
                f.fail(keyword, msg)
        return not fails

    return check


def _properties(schema, cx):
    subs = [(name, cx.child(s), "properties/" + pointer_escape(name))
            for name, s in schema["properties"].items()]
    return _members("properties", lambda v, f: [m for m in subs if m[0] in v])


def _pattern_properties(schema, cx):
    subs = [(re.compile(p), cx.child(s), "patternProperties/" + pointer_escape(p))
            for p, s in schema["patternProperties"].items()]
    return _members("patternProperties", lambda v, f: [
        (name, cell, kw) for rx, cell, kw in subs for name in v if rx.search(name)])


def _additional_properties(schema, cx):
    cell = cx.child(schema["additionalProperties"])
    named = schema.get("properties", {})
    patterns = [re.compile(p) for p in schema.get("patternProperties", {})]
    return _members("additionalProperties", lambda v, f: [
        (name, cell, "additionalProperties") for name in v
        if name not in named and not any(rx.search(name) for rx in patterns)])


def _property_names(schema, cx):
    cell = cx.child(schema["propertyNames"])

    def check(v, scope, f):
        ok = True
        for name in v:
            if f is None:
                if not cell[0](name, scope, None):
                    return False
                continue
            o = f.sub(cell, name, scope, "propertyNames")
            if not o.valid:
                ok = False
                f.absorb(o, "propertyNames", f"property name {name!r} is invalid")
        return ok

    return check


def _dependent_schemas(schema, cx):
    subs = [(k, cx.child(s), "dependentSchemas/" + pointer_escape(k))
            for k, s in schema["dependentSchemas"].items()]
    return _in_place("dependentSchemas", lambda v, scope: [(c, kw) for k, c, kw in subs if k in v])


def _subschemas(keyword: str, schema, cx) -> list:
    return [(cx.child(s), f"{keyword}/{i}") for i, s in enumerate(schema[keyword])]


def _all_of(schema, cx):
    subs = _subschemas("allOf", schema, cx)
    return _in_place("allOf", lambda v, scope: subs)


def _any_of(schema, cx):
    subs = _subschemas("anyOf", schema, cx)

    def check(v, scope, f):
        if f is None:
            return any(cell[0](v, scope, None) for cell, _ in subs)
        results = [f.sub(cell, v, scope, kw) for cell, kw in subs]
        for o in results:
            f.merge(o)
        if any(o.valid for o in results):
            return True
        f.fail("anyOf", "no subschema matched")
        for o in results:
            f.errors.extend(o.errors)
        return False

    return check


def _one_of(schema, cx):
    subs = _subschemas("oneOf", schema, cx)

    def check(v, scope, f):
        if f is None:
            n = 0
            for cell, _ in subs:
                n += cell[0](v, scope, None)
                if n > 1:
                    return False
            return n == 1
        results = [f.sub(cell, v, scope, kw) for cell, kw in subs]
        for o in results:
            f.merge(o)
        n = sum(o.valid for o in results)
        if n != 1:
            f.fail("oneOf", f"{n} subschemas matched, need exactly 1")
        return n == 1

    return check


def _not(schema, cx):
    cell = cx.child(schema["not"])

    def check(v, scope, f):
        if f is None:
            return not cell[0](v, scope, None)
        if f.sub(cell, v, scope, "not").valid:
            f.fail("not", "instance must not match the subschema")
            return False
        return True

    return check


def _if(schema, cx):
    cond = cx.child(schema["if"])
    then = _alone("then", cx.child(schema["then"])) if "then" in schema else None
    other = _alone("else", cx.child(schema["else"])) if "else" in schema else None

    def check(v, scope, f):
        if f is None:
            branch = then if cond[0](v, scope, None) else other
        else:
            o = f.sub(cond, v, scope, "if")  # never fails the parent
            f.merge(o)
            branch = then if o.valid else other
        return branch is None or branch(v, scope, f)

    return check


# unevaluated* reads the annotations of every sibling, so a node
# holding it walks in full even for the predicate: f is never None here

def _unevaluated_items(schema, cx):
    cell = cx.child(schema["unevaluatedItems"])
    legacy = cx.dialect == "2019-09"

    def members(v, f):
        # 2020-12/next: contains-matched items count as evaluated;
        # 2019-09 collects only items/additionalItems/unevaluatedItems
        # annotations (legacy.py:115-147)
        covered = f.items if legacy else f.items | f.contains
        return [(i, cell, "unevaluatedItems") for i in range(len(v)) if i not in covered]

    return _members("unevaluatedItems", members)


def _unevaluated_properties(schema, cx):
    cell = cx.child(schema["unevaluatedProperties"])
    return _members("unevaluatedProperties", lambda v, f: [
        (name, cell, "unevaluatedProperties") for name in v if name not in f.props])


# The keyword table, in evaluation order (the order of a document's
# violations). Row: (keyword, instance types it applies to or None for
# all, build(schema, cx) -> compiled check or None). Registered custom
# keywords run after "if", and unevaluated* last.
_KEYWORDS = (
    # $ref / $dynamicRef / $recursiveRef: in-place, annotations pass through
    ("$ref", None, _ref),
    ("$dynamicRef", None, _dynamic_ref),
    ("$recursiveRef", None, _recursive_ref),
    _leaf("type", None, _is_type, lambda v, t: f"instance type {json_type(v)} does not match {t}"),
    _leaf("enum", None, lambda v, e: any(json_equal(v, x) for x in e), "value not found in enumeration"),
    _leaf("const", None, json_equal, "value does not equal the constant"),
    _leaf("multipleOf", _NUMBER, is_multiple_of, "not a multiple of {}"),
    _leaf("maximum", _NUMBER, operator.le, "exceeds maximum {}"),
    _leaf("exclusiveMaximum", _NUMBER, operator.lt, "not below {}"),
    _leaf("minimum", _NUMBER, operator.ge, "below minimum {}"),
    _leaf("exclusiveMinimum", _NUMBER, operator.gt, "not above {}"),
    _leaf("maxLength", _STRING, lambda v, n: len(v) <= n, "longer than {}"),
    _leaf("minLength", _STRING, lambda v, n: len(v) >= n, "shorter than {}"),
    ("pattern", _STRING, lambda s, cx: _check(
        "pattern", lambda v, rx: rx.search(v), re.compile(s["pattern"]),
        f"does not match pattern {s['pattern']!r}")),
    _leaf("maxItems", _ARRAY, lambda v, n: len(v) <= n, "more than {} items"),
    _leaf("minItems", _ARRAY, lambda v, n: len(v) >= n, "fewer than {} items"),
    ("uniqueItems", _ARRAY, lambda s, cx: _check(
        "uniqueItems", _unique, None, "array items are not unique") if s["uniqueItems"] else None),
    _leaf("maxProperties", _OBJECT, lambda v, n: len(v) <= n, "more than {} properties"),
    _leaf("minProperties", _OBJECT, lambda v, n: len(v) >= n, "fewer than {} properties"),
    _leaf("required", _OBJECT, lambda v, names: all(map(v.__contains__, names)),
          lambda v, names: f"missing required properties {[k for k in names if k not in v]}"),
    ("dependentRequired", _OBJECT, _dependent_required),
    ("format", None, _format),
    ("prefixItems", _ARRAY, _prefix_items),
    ("items", _ARRAY, _items),
    ("additionalItems", _ARRAY, _additional_items),
    # runs in both dialects: 2019-09 keeps contains alongside tuple-form items
    ("contains", _ARRAY, _contains),
    ("properties", _OBJECT, _properties),
    ("patternProperties", _OBJECT, _pattern_properties),
    ("additionalProperties", _OBJECT, _additional_properties),
    ("propertyNames", _OBJECT, _property_names),
    ("dependentSchemas", _OBJECT, _dependent_schemas),
    ("allOf", None, _all_of),
    ("anyOf", None, _any_of),
    ("oneOf", None, _one_of),
    ("not", None, _not),
    ("if", None, _if),
    ("unevaluatedItems", _ARRAY, _unevaluated_items),
    ("unevaluatedProperties", _OBJECT, _unevaluated_properties),
)
# keyword -> (position in _KEYWORDS, types, build)
_TABLE = {kw: (i, types, build) for i, (kw, types, build) in enumerate(_KEYWORDS)}
_CUSTOM_AT = _TABLE["unevaluatedItems"][0]


def _rows(schema: dict) -> list:
    """The table rows ``schema`` uses, in order, with the registered
    custom keywords (functions/registry.py) in their place."""
    rows = [_TABLE[k] for k in schema if k in _TABLE]
    rows.sort()
    if KEYWORD_REGISTRY:
        custom = [
            (None, None, lambda s, cx, name=name, entry=entry: _check(
                name, _applies, (entry.python_fn(s[name]), entry.instance_types), entry.error))
            for name, entry in KEYWORD_REGISTRY.items()
            if name in schema
        ]
        at = sum(1 for r in rows if r[0] < _CUSTOM_AT)
        rows[at:at] = custom
    return rows


class _Node:
    """What a keyword's build sees besides the schema: the program and
    where the node sits (base URI, dialect, format assertion)."""

    __slots__ = ("program", "base", "dialect", "fmt_assert")

    def __init__(self, program: Program, base: str, dialect: str, fmt_assert: bool) -> None:
        self.program = program
        self.base = base
        self.dialect = dialect
        self.fmt_assert = fmt_assert

    def child(self, schema: Any) -> list:
        return self.program.cell(schema, self.base, self.dialect, self.fmt_assert)

    def target(self, key: tuple, resolve: Callable[[], tuple]) -> tuple:
        """(schema, cell) a reference lands on, memoized per program
        under ``key``; ``resolve()`` gives its (schema, base URI)."""
        key += (self.dialect, self.fmt_assert)
        hit = self.program.targets.get(key)
        if hit is None:
            schema, base = resolve()
            cell = self.program.cell(schema, base, self.dialect, self.fmt_assert)
            hit = self.program.targets[key] = (schema, cell)
        return hit

    def ref(self, ref: str, base: str | None = None) -> tuple:
        base = self.base if base is None else base
        return self.target(("$ref", ref, base), lambda: self.program.catalog.resolve(ref, base))


class Program:
    """A schema compiled for one Evaluator. ``valid(instance)`` is the
    predicate: it short-circuits and builds no paths, violations or
    annotation sets. ``outcome(instance)`` is the full walk. Both run
    the same closures; a schema node compiles on its first visit, and a
    ``$ref`` resolves on its first visit."""

    def __init__(self, evaluator: Evaluator, schema: Any, base_uri: str) -> None:
        self.evaluator = evaluator
        self.catalog = evaluator.catalog
        # content key of a reference -> (target schema, its cell): a
        # recursive schema reaches the same compiled node again
        self.targets: dict[tuple, tuple] = {}
        self._cells: list[list] = []
        self._root = self.cell(schema, base_uri, "2020-12", False)
        self._scope = [base_uri]

    def valid(self, instance: Any) -> bool:
        return self._root[0](instance, self._scope, None)

    def outcome(self, instance: Any) -> Outcome:
        f = _Frame("", "")
        if not self._root[0](instance, self._scope, f):
            # a failed schema contributes no annotations
            return Outcome(False, f.errors)
        return Outcome(True, f.errors, f.props, f.items, f.contains)

    def cell(self, schema: Any, base: str, dialect: str, fmt_assert: bool) -> list:
        """A one-slot cell whose closure compiles ``schema`` on its first
        call and replaces itself with the result."""
        cell: list = [None]

        def first(instance, scope, f):
            cell[0] = run = self._compile(schema, base, dialect, fmt_assert)
            return run(instance, scope, f)

        cell[0] = first
        self._cells.append(cell)
        return cell

    def release(self) -> None:
        """Empty every cell. The closures reference one another through
        the cells, so a Program used once is then freed at once rather
        than by the cycle collector; it validates nothing after."""
        for cell in self._cells:
            cell[0] = None
        self._cells.clear()
        self.targets.clear()

    def _compile(self, schema: Any, base: str, dialect: str, fmt_assert: bool) -> Callable:
        if isinstance(schema, bool):
            return _accept if schema else _reject
        if not isinstance(schema, dict):
            raise TypeError(f"schema must be bool or object, not {type(schema).__name__}")

        # entering a schema object with $id = entering a resource: the
        # walk pushes it onto the dynamic scope
        if "$id" in schema and isinstance(schema["$id"], str):
            base = _urljoin_base(base, schema["$id"])
        if "$schema" in schema and isinstance(schema["$schema"], str):
            dialect = Evaluator._dialect_of(schema["$schema"]) or dialect
            # a resource's own metaschema decides whether `format`
            # asserts there (REPLACES the inherited setting — each
            # resource is governed by its own dialect)
            fmt_assert = self.evaluator._metaschema_asserts_format(schema["$schema"])
        cx = _Node(self, base, dialect, fmt_assert)

        found = []
        for _, types, build in _rows(schema):
            check = build(schema, cx)
            if check is not None:
                found.append((types, check))
        # instance class -> the checks that apply to its JSON type,
        # filled on the first instance of each class
        by_class: dict[type, tuple] = {}
        # unevaluated* reads the annotations of every sibling, so the
        # node walks in full even for the predicate
        annotated = "unevaluatedItems" in schema or "unevaluatedProperties" in schema

        def run(v, scope, f):
            if scope[-1] != base:
                scope = scope + [base]
            todo = by_class.get(v.__class__)
            if todo is None:
                jt = json_type(v)
                todo = by_class[v.__class__] = tuple(
                    [c for types, c in found if types is None or jt in types])
            if f is None:
                if not annotated:
                    for c in todo:
                        if not c(v, scope, None):
                            return False
                    return True
                f = _Frame("", "")
            for c in todo:
                c(v, scope, f)
            return f.valid

        return run


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
        for name, entry in FORMAT_REGISTRY.items():
            self.formats[name] = (entry.python_fn, entry.instance_types)
        if format_validators:
            self.formats.update(format_validators)
        # $schema URI -> does its (catalog-resolvable) metaschema
        # declare the format-assertion vocabulary? (round 6)
        self._fmt_assert_cache: dict[str, bool] = {}

    # -- public API ------------------------------------------------------
    def validate(self, schema: Any, instance: Any, uri: str | None = None) -> Outcome:
        """Register ``schema`` and walk ``instance`` in full. It compiles
        anew on every call, so edits to the schema dict are seen."""
        program = self.compile(schema, self.catalog.register(schema, uri))
        try:
            return program.outcome(instance)
        finally:
            program.release()

    def compile(self, schema: Any, base_uri: str) -> Program:
        """``schema``, registered at ``base_uri``, as a Program."""
        return Program(self, schema, base_uri)

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
