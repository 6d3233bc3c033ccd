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
``format`` asserts through ``Extensions.format_entry``, the lookup the
Column lowerings make too: built-in formats are rows of one table
(jschon_spark/formats.py) that registered formats override.

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

import operator
import re
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from typing import Any, Callable

from jschon_spark.functions import registry
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
# the violation record (≅ jschon's basic output unit, output.py:46-70):
# one definition, one message table and one value rule for every route
# --------------------------------------------------------------------------

@dataclass
class Violation:
    """One violation record. The Spark routes' ``VIOLATION_TYPE`` is
    derived from these fields, in this order; a document's records are
    sorted by them (a NULL ``value`` first)."""

    keyword: str
    instance_path: str
    keyword_path: str
    value: str | None
    error: str


# The error text by keyword: a function of the keyword's schema value
# only; what depends on the instance goes in the record's ``value``.
# "false" is a false subschema's text, "" an unparsable document's.
MESSAGES = {
    "type": "type must be one of {}",
    "enum": "value not in enumeration",
    "const": "value does not equal const",
    "multipleOf": "not a multiple of {}",
    "maximum": "violates maximum {}",
    "exclusiveMaximum": "violates exclusiveMaximum {}",
    "minimum": "violates minimum {}",
    "exclusiveMinimum": "violates exclusiveMinimum {}",
    "maxLength": "longer than {}",
    "minLength": "shorter than {}",
    "pattern": "does not match pattern {}",
    "format": "not a valid {}",
    "maxItems": "more than {} items",
    "minItems": "fewer than {} items",
    "uniqueItems": "array items are not unique",
    "maxProperties": "more than {} properties",
    "minProperties": "fewer than {} properties",
    "required": "missing required properties",
    "dependentRequired": "property {!r} requires {}",
    "contains": "no array items match the contains schema",
    "maxContains": "more than {} matching items",
    "minContains": "fewer than {} matching items",
    "propertyNames": "property name is invalid",
    "anyOf": "no subschema matched",
    "oneOf": "exactly one subschema must match",
    "not": "instance must not match the subschema",
    "false": "boolean schema false permits nothing",
    "": "invalid JSON",
}
VALUE_CHARS = 256  # every record's value is cut to this many characters


def message(keyword: str, *value: Any) -> str:
    """The error text of a ``keyword`` violation, the keyword's schema
    ``value`` filled in (``dependentRequired``: the property and its
    required names)."""
    if keyword == "type" and isinstance(value[0], str):
        value = ([value[0]],)
    return MESSAGES[keyword].format(*value)


def java_double(x: float) -> str:
    """The nonzero ``x`` as Spark's ``CAST(x AS STRING)`` writes a
    double (Java's ``Double.toString`` layout), from the digits of
    Python's shortest ``repr``. Java 17 prints more digits than the
    shortest for some doubles of magnitude 1e16 and above (and writes
    the smallest subnormal 4.9E-324); there the two differ."""
    if x != x:
        return "NaN"
    sign = "-" if x < 0 else ""
    if x in (float("inf"), float("-inf")):
        return sign + "Infinity"
    _, digits, exp = Decimal(repr(x)).as_tuple()
    point = len(digits) + exp - 1  # the decimal exponent of the first digit
    ds = "".join(map(str, digits)).rstrip("0")
    if 1e-3 <= abs(x) < 1e7:
        if point < 0:
            return f"{sign}0.{'0' * (-point - 1)}{ds}"
        return f"{sign}{ds[:point + 1].ljust(point + 1, '0')}.{ds[point + 1:] or '0'}"
    return f"{sign}{ds[0]}.{ds[1:] or '0'}E{point}"


def shown(v: Any) -> str | None:
    """An instance as a record's ``value``: a string as itself, true or
    false, an integral number below 2^63 in magnitude as its digits,
    any other number as ``java_double`` writes it, and None for null,
    arrays and objects."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if abs(v) < 2 ** 63:
            return str(v)
        try:
            v = float(v)
        except OverflowError:
            v = float("inf") if v > 0 else float("-inf")
    if isinstance(v, float):
        if v.is_integer() and abs(v) < 2 ** 63:
            return str(int(v))
        return java_double(v)
    return None


# the keywords whose record shows a count rather than the instance
_COUNTED = frozenset({"maxItems", "minItems", "maxProperties", "minProperties"})


def _record_value(keyword: str, v: Any, value: Any) -> str | None:
    """The ``value`` of a ``keyword`` violation by the instance ``v``,
    the keyword's schema ``value`` given: the missing names for
    ``required``, the count for the size keywords, else the instance."""
    if keyword == "required":
        return ", ".join(k for k in value if k not in v)
    if keyword in _COUNTED:
        return str(len(v))
    return shown(v)


def _order(v: Violation) -> tuple:
    return v.keyword, v.instance_path, v.keyword_path, v.value is not None, v.value or "", v.error


# --------------------------------------------------------------------------
# outcome model (≅ jschon Result tree flattened to the basic format)
# --------------------------------------------------------------------------

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

    def fail(self, keyword: str, error: str, value: str | None) -> None:
        self.record(keyword, f"{self.kpath}/{keyword}", error, value)

    def record(self, keyword: str, kpath: str, error: str, value: str | None) -> None:
        self.valid = False
        self.errors.append(Violation(keyword, self.ipath, kpath,
                                     value if value is None else value[:VALUE_CHARS], error))

    def sub(self, cell: list, instance: Any, scope: list, kw: str, ip: str = "") -> _Frame:
        """Walk ``cell`` over ``instance`` at keyword path suffix ``kw``
        and instance path suffix ``ip``."""
        child = _Frame(self.ipath + ip, f"{self.kpath}/{kw}")
        cell[0](instance, scope, child)
        return child

    def absorb(self, o: _Frame) -> None:
        """Record a failed child's errors."""
        self.valid = False
        self.errors.extend(o.errors)

    def merge(self, o: _Frame) -> None:
        if o.valid:
            self.props |= o.props
            self.items |= o.items
            self.contains |= o.contains

    def in_place(self, cell: list, instance: Any, scope: list, kw: str) -> bool:
        """A child at this instance location: its annotations pass
        through and its failure is absorbed."""
        o = self.sub(cell, instance, scope, kw)
        self.merge(o)
        if not o.valid:
            self.absorb(o)
        return o.valid

    def located(self, cell: list, instance: Any, scope: list, kw: str, key: Any) -> bool:
        """A child at member ``key`` (an item index or a property name):
        a pass marks the member evaluated, a failure is absorbed."""
        if isinstance(key, str):
            o, seen = self.sub(cell, instance, scope, kw, "/" + pointer_escape(key)), self.props
        else:
            o, seen = self.sub(cell, instance, scope, kw, f"/{key}"), self.items
        if o.valid:
            seen.add(key)
        else:
            self.absorb(o)
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


def _check(keyword: str, test: Callable[[Any, Any], Any], value: Any, error: str) -> Callable:
    """A keyword that tests the instance alone, as ``test(instance,
    value)``, failing with ``error``."""
    def check(v, scope, f):
        if test(v, value):
            return True
        if f is not None:
            f.fail(keyword, error, _record_value(keyword, v, value))
        return False

    return check


def _members(members: Callable) -> Callable:
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
            ok &= f.located(cell, v[key], scope, kw, key)
        return ok

    return check


def _in_place(cells: Callable) -> Callable:
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
            ok &= f.in_place(cell, v, scope, kw)
        return ok

    return check


def _alone(keyword: str, cell: list) -> Callable:
    """An in-place keyword with one subschema."""
    subs = ((cell, keyword),)
    return _in_place(lambda v, scope: subs)


def _leaf(keyword: str, types: tuple | None, test: Callable) -> tuple:
    """Table row of a keyword checked by ``test(instance, value)``."""
    def build(schema, cx):
        value = schema[keyword]
        return _check(keyword, test, value, message(keyword, value))

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
        f.record(f.kpath.rsplit("/", 1)[-1], f.kpath, MESSAGES["false"], shown(v))
    return False


def _ref(schema, cx):
    ref = schema["$ref"]
    # resolved on the first visit, not at compile
    return _in_place(lambda v, scope: ((cx.ref(ref)[1], "$ref"),))


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

    return _in_place(cells)


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

    return _in_place(cells)


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
                f.fail("dependentRequired", message("dependentRequired", k, needed), k)
        return ok

    return check


def _format(schema, cx):
    # annotation only unless asserted (jschon's vocabulary/format.py:14-32)
    ev = cx.program.evaluator
    if not (ev.assert_formats or cx.fmt_assert):
        return None
    entry = ev.extensions.format_entry(schema["format"])
    return None if entry is None else _check(
        "format", _applies, (entry.python_fn, entry.instance_types),
        message("format", schema["format"]))


def _tuple_form(schema, cx) -> bool:
    """2019-09 tuple-form items + additionalItems
    (jschon's vocabulary/legacy.py:56-211)."""
    return cx.dialect == "2019-09" and isinstance(schema.get("items"), list)


def _positional(keyword: str, subschemas: list, cx) -> Callable:
    subs = [(i, cx.child(s), f"{keyword}/{i}") for i, s in enumerate(subschemas)]
    return _members(lambda v, f: subs[:len(v)])


def _rest(keyword: str, subschema: Any, start: int, cx) -> Callable:
    """``subschema`` over every item from index ``start`` on."""
    cell = cx.child(subschema)
    return _members(lambda v, f: [(i, cell, keyword) for i in range(start, len(v))])


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
            fails.append(("contains",))
        if has_max and n > max_c:
            fails.append(("maxContains", max_c))
        if has_min and n < min_c:
            fails.append(("minContains", min_c))
        if f is not None:
            for fail in fails:
                f.fail(fail[0], message(*fail), str(n))
        return not fails

    return check


def _properties(schema, cx):
    subs = [(name, cx.child(s), "properties/" + pointer_escape(name))
            for name, s in schema["properties"].items()]
    return _members(lambda v, f: [m for m in subs if m[0] in v])


def _pattern_properties(schema, cx):
    subs = [(re.compile(p), cx.child(s), "patternProperties/" + pointer_escape(p))
            for p, s in schema["patternProperties"].items()]
    return _members(lambda v, f: [
        (name, cell, kw) for rx, cell, kw in subs for name in v if rx.search(name)])


def _additional_properties(schema, cx):
    cell = cx.child(schema["additionalProperties"])
    named = schema.get("properties", {})
    patterns = [re.compile(p) for p in schema.get("patternProperties", {})]
    return _members(lambda v, f: [
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
                f.fail("propertyNames", message("propertyNames"), name)
                f.absorb(o)
        return ok

    return check


def _dependent_schemas(schema, cx):
    subs = [(k, cx.child(s), "dependentSchemas/" + pointer_escape(k))
            for k, s in schema["dependentSchemas"].items()]
    return _in_place(lambda v, scope: [(c, kw) for k, c, kw in subs if k in v])


def _subschemas(keyword: str, schema, cx) -> list:
    return [(cx.child(s), f"{keyword}/{i}") for i, s in enumerate(schema[keyword])]


def _all_of(schema, cx):
    subs = _subschemas("allOf", schema, cx)
    return _in_place(lambda v, scope: subs)


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
        f.fail("anyOf", message("anyOf"), shown(v))
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
            f.fail("oneOf", message("oneOf"), str(n))
        return n == 1

    return check


def _not(schema, cx):
    cell = cx.child(schema["not"])

    def check(v, scope, f):
        if f is None:
            return not cell[0](v, scope, None)
        if f.sub(cell, v, scope, "not").valid:
            f.fail("not", message("not"), shown(v))
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

    return _members(members)


def _unevaluated_properties(schema, cx):
    cell = cx.child(schema["unevaluatedProperties"])
    return _members(lambda v, f: [
        (name, cell, "unevaluatedProperties") for name in v if name not in f.props])


# The keyword table, in evaluation order (a document's violations are
# sorted afterwards, in Program.outcome). Row: (keyword, instance types
# it applies to or None for all, build(schema, cx) -> compiled check or
# None). Registered custom keywords run after "if", and unevaluated*
# last.
_KEYWORDS = (
    # $ref / $dynamicRef / $recursiveRef: in-place, annotations pass through
    ("$ref", None, _ref),
    ("$dynamicRef", None, _dynamic_ref),
    ("$recursiveRef", None, _recursive_ref),
    _leaf("type", None, _is_type),
    _leaf("enum", None, lambda v, e: any(json_equal(v, x) for x in e)),
    _leaf("const", None, json_equal),
    _leaf("multipleOf", _NUMBER, is_multiple_of),
    _leaf("maximum", _NUMBER, operator.le),
    _leaf("exclusiveMaximum", _NUMBER, operator.lt),
    _leaf("minimum", _NUMBER, operator.ge),
    _leaf("exclusiveMinimum", _NUMBER, operator.gt),
    _leaf("maxLength", _STRING, lambda v, n: len(v) <= n),
    _leaf("minLength", _STRING, lambda v, n: len(v) >= n),
    ("pattern", _STRING, lambda s, cx: _check(
        "pattern", lambda v, rx: rx.search(v), re.compile(s["pattern"]),
        message("pattern", s["pattern"]))),
    _leaf("maxItems", _ARRAY, lambda v, n: len(v) <= n),
    _leaf("minItems", _ARRAY, lambda v, n: len(v) >= n),
    ("uniqueItems", _ARRAY, lambda s, cx: _check(
        "uniqueItems", _unique, None, message("uniqueItems")) if s["uniqueItems"] else None),
    _leaf("maxProperties", _OBJECT, lambda v, n: len(v) <= n),
    _leaf("minProperties", _OBJECT, lambda v, n: len(v) >= n),
    _leaf("required", _OBJECT, lambda v, names: all(map(v.__contains__, names))),
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


def _rows(schema: dict, keywords: dict) -> list:
    """The table rows ``schema`` uses, in order, with the registered
    custom ``keywords`` (functions/registry.py) in their place."""
    rows = [_TABLE[k] for k in schema if k in _TABLE]
    rows.sort()
    if keywords:
        custom = [
            (None, None, lambda s, cx, name=name, entry=entry: _check(
                name, _applies, (entry.python_fn(s[name]), entry.instance_types), entry.error))
            for name, entry in keywords.items()
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
        valid = self._root[0](instance, self._scope, f)
        # one order on every route: a document's records sorted once, here
        errors = sorted(f.errors, key=_order)
        if not valid:
            # a failed schema contributes no annotations
            return Outcome(False, errors)
        return Outcome(True, errors, f.props, f.items, f.contains)

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
        for _, types, build in _rows(schema, self.evaluator.extensions.keywords):
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
    """Evaluate instances against schemas registered in a SchemaCatalog.

    Registered formats and keywords (functions/registry.py, jschon's
    format_validator plugin surface) come from ``extensions``: the live
    registries by default, or the snapshot a batch worker was shipped."""

    def __init__(
        self,
        catalog: SchemaCatalog | None = None,
        assert_formats: bool = False,
        extensions: registry.Extensions | None = None,
    ) -> None:
        self.catalog = catalog or SchemaCatalog()
        self.assert_formats = assert_formats
        self.extensions = registry.LIVE if extensions is None else extensions
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
