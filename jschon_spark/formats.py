"""The built-in formats: one table read by every route.

Each 2020-12 format-vocabulary name is one :class:`FormatEntry` row
(functions/registry.py) — a Python predicate for the batch evaluator
and, where one exists, a Column form for the typed and variant
lowerings. ``registry.format_entry`` looks a name up; a registered
format of the same name overrides the row on every route
(the reference ships only json-pointer, jschon's formats.py:5-9; the
rest is engine surface beyond parity).

A regex format is declared once, by its body (:class:`Grammar`): the
Python side full-matches it with ``re``, the Column side anchors the
same string for Java's ``rlike``. The bodies avoid ``\\d``, ``\\s`` and
``\\w``, whose Python reading is unicode-wide and Java's ASCII-only, so
both engines read one grammar. ipv6, regex and idn-hostname are Python
logic with no Column form: schemas asserting them run on the batch
evaluator.
"""

from __future__ import annotations

import ipaddress
import re
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from jschon_spark.functions.registry import FormatEntry
from jschon_spark.lowering.keywords import rlike

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


class Grammar:
    """A format whose whole value must match the regex ``body``.

    ``matches`` is the Python predicate (``re.fullmatch``); calling the
    grammar on a string Column gives the same full match as an rlike.
    ``calendar``, for the date formats, picks the 'YYYY-MM-DD' part of
    the Column string that must also be a real day (the Python side
    reads the first ten characters)."""

    def __init__(self, body: str, calendar: Callable[[Column], Column] | None = None) -> None:
        self.body = body
        self.calendar = calendar
        self._rx = re.compile(body)

    def matches(self, v: str) -> bool:
        return self._rx.fullmatch(v) is not None and (
            self.calendar is None or _valid_ymd(v[:10]))

    def regex_only(self, s: Column) -> Column:
        """The full match without the calendar conjunct: for strings
        that are real days by construction (date_format output)."""
        return rlike(s, self.body, full=True)

    def __call__(self, s: Column) -> Column:
        pred = self.regex_only(s)
        if self.calendar is not None:
            # try_to_timestamp rejects 2023-02-29 exactly like _valid_ymd
            pred = pred & F.try_to_timestamp(self.calendar(s), F.lit("yyyy-MM-dd")).isNotNull()
        return pred


def _regex(body: str, calendar: Callable[[Column], Column] | None = None) -> FormatEntry:
    grammar = Grammar(body, calendar)
    return FormatEntry(grammar.matches, ("string",), grammar)


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


def _is_regex(v: str) -> bool:
    try:
        re.compile(v)
        return True
    except re.error:
        return False


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


# RFC 6901: empty, or '/'-led tokens with '~' only as ~0/~1
_JSON_POINTER = r"(/([^~/]|~[01])*)*"
_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
# RFC 3339 ranges: hour 00-23, minute 00-59, second 00-60 (60 = leap
# second, accepted at any offset — the pragmatic RFC grammar; strictly
# it only occurs at 23:59:60 UTC), offset hour/min range-checked too
_DATE = r"[0-9]{4}-[0-9]{2}-[0-9]{2}"
_TIME = (
    r"([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\.[0-9]+)?"
    r"([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])"
)
_LABEL = r"[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
# RFC 3986 pchar-superset (any URI component character or %-escape);
# a raw space or a bare '%' is invalid
_URI_ATOM = r"%[0-9A-Fa-f]{2}|[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=]"
_URI_CHAR = rf"(?:{_URI_ATOM})"
# RFC 3987 adds ucschar (>= U+00A0); pragmatically: any non-ASCII
_IRI_CHAR = rf"(?:{_URI_ATOM}|[^\x00-\x7F])"
_SCHEME = r"(?=[A-Za-z][A-Za-z0-9+.-]*:)"
# RFC 6570: literals (no braces/controls/space) and {op? varspec,+}
_TPL_VAR = r"(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2})(?:\.?(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2}))*"
_TPL_SPEC = rf"{_TPL_VAR}(?:\*|:[1-9][0-9]{{0,3}})?"

BUILTIN_FORMATS: dict[str, FormatEntry] = {
    "json-pointer": _regex(_JSON_POINTER),
    "ipv4": _regex(rf"({_OCTET}\.){{3}}{_OCTET}"),
    "ipv6": FormatEntry(_fmt_ipv6),
    "date": _regex(_DATE, calendar=lambda s: s),
    "time": _regex(_TIME),
    "date-time": _regex(rf"{_DATE}[Tt]{_TIME}", calendar=lambda s: F.substring(s, 1, 10)),
    "uuid": _regex(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"),
    "regex": FormatEntry(_is_regex),
    "uri": _regex(rf"{_SCHEME}({_URI_ATOM})*"),
    "hostname": _regex(rf"(?=.{{1,253}}$)({_LABEL}\.)*{_LABEL}"),
    # explicit ASCII whitespace (= Java \s), not Python's unicode-wide \s
    "email": _regex(r"[^@ \t\n\x0B\f\r]+@[^@ \t\n\x0B\f\r]+\.[^@ \t\n\x0B\f\r]+"),
    "duration": _regex(
        r"P(?!$)([0-9]+Y)?([0-9]+M)?([0-9]+W)?([0-9]+D)?"
        r"(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?"
    ),
    "relative-json-pointer": _regex(rf"(0|[1-9][0-9]*)(#|{_JSON_POINTER})"),
    "uri-reference": _regex(rf"{_URI_CHAR}*"),
    "iri": _regex(rf"{_SCHEME}{_IRI_CHAR}*"),
    "iri-reference": _regex(rf"{_IRI_CHAR}*"),
    "uri-template": _regex(
        rf"(?:[^{{}}\x00-\x20\x7F]|\{{[+#./;?&=,!@|]?{_TPL_SPEC}(?:,{_TPL_SPEC})*\}})*"
    ),
    # controls/space/DEL excluded explicitly (NOT \s: Java \s is
    # ASCII-only, Python's is unicode — U+00A0 must be LEGAL both sides)
    "idn-email": _regex(r"[^@\x00-\x20\x7F]+@[^@\x00-\x20\x7F]+\.[^@\x00-\x20\x7F]+"),
    "idn-hostname": FormatEntry(_fmt_idn_hostname),
}
