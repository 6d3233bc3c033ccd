"""Format-validator and custom-keyword registries.

A registered format supplies:
  * ``python_fn(value) -> bool``   — used by the batch evaluator/oracle
  * ``column_fn(col) -> Column``   — optional; enables the fast path
    (absence forces CannotLower → batch fallback for schemas using it)

The built-in formats are rows of the same type (jschon_spark/formats.py).
``format_entry(name)`` is the one lookup every route makes: a
registered format overrides the built-in of that name on the typed,
variant and batch routes alike. A format whose ``instance_types`` are
not ``("string",)`` runs on the batch evaluator.

A registered keyword supplies the same pair, receiving the keyword's
schema value: ``python_fn(kw_value) -> (instance) -> bool`` and
``column_fn(kw_value, col, dtype) -> Column``.

Python workers never see this process's registries: the batch route
ships ``snapshot(schema, ...)`` — the entries the schema can use, taken
when its UDF is built — in the UDF closure, and the worker's Evaluator
reads that instead.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import Column


@dataclass
class FormatEntry:
    python_fn: Callable[[Any], bool]
    instance_types: tuple[str, ...] = ("string",)
    column_fn: Callable[[Column], Column] | None = None


@dataclass
class KeywordEntry:
    python_fn: Callable[[Any], Callable[[Any], bool]]
    instance_types: tuple[str, ...]
    column_fn: Callable | None = None
    error: str = "custom keyword failed"


# jschon's JSON types: an instance is never "integer" (that is a
# `type` keyword test), so an entry naming it would never apply
JSON_TYPES = ("null", "boolean", "number", "string", "array", "object")


def _check_types(instance_types: tuple[str, ...]) -> None:
    bad = [t for t in instance_types if t not in JSON_TYPES]
    if bad:
        raise ValueError(f"instance_types {bad} are not among the JSON types {JSON_TYPES}")


FORMAT_REGISTRY: dict[str, FormatEntry] = {}
KEYWORD_REGISTRY: dict[str, KeywordEntry] = {}
VERSION = 0  # bumped by every mutator below; part of engine.compiled's key


@dataclass(frozen=True)
class Extensions:
    """The registered formats and keywords an Evaluator reads: the live
    registries (``LIVE``) or a ``snapshot``. ``key`` identifies a
    snapshot's content in the batch worker's memo."""

    formats: Mapping[str, FormatEntry]
    keywords: Mapping[str, KeywordEntry]
    key: tuple = ()

    def format_entry(self, name: Any) -> FormatEntry | None:
        """What ``format: name`` asserts: the registered entry, else the
        built-in row, else None (an unknown format only annotates)."""
        entry = self.formats.get(name)
        if entry is None:
            from jschon_spark.formats import BUILTIN_FORMATS

            entry = BUILTIN_FORMATS.get(name)
        return entry


LIVE = Extensions(FORMAT_REGISTRY, KEYWORD_REGISTRY)


def format_entry(name: Any) -> FormatEntry | None:
    return LIVE.format_entry(name)


def snapshot(*docs: Any) -> Extensions:
    """The registered entries whose names occur in ``docs`` (as a key or
    a string anywhere in them), copied now."""
    names: set = set()
    todo = list(docs)
    while todo:
        doc = todo.pop()
        if isinstance(doc, dict):
            names.update(doc)
            todo.extend(doc.values())
        elif isinstance(doc, list):
            todo.extend(doc)
        elif isinstance(doc, str):
            names.add(doc)
    formats = {n: e for n, e in FORMAT_REGISTRY.items() if n in names}
    keywords = {n: e for n, e in KEYWORD_REGISTRY.items() if n in names}
    key = (VERSION, tuple(formats), tuple(keywords)) if formats or keywords else ()
    return Extensions(formats, keywords, key)


def _bump() -> None:
    global VERSION
    VERSION += 1


def format_validator(
    name: str,
    instance_types: tuple[str, ...] = ("string",),
    column_fn: Callable[[Column], Column] | None = None,
):
    """Decorator: register a format (analogue of jschon's
    @format_validator, format.py:47-66). ``instance_types`` outside
    ``JSON_TYPES`` raise ValueError."""
    _check_types(instance_types)

    def deco(fn):
        FORMAT_REGISTRY[name] = FormatEntry(fn, instance_types, column_fn)
        _bump()
        return fn

    return deco


def custom_keyword(
    name: str,
    instance_types: tuple[str, ...] = ("string",),
    column_fn: Callable | None = None,
    error: str = "custom keyword failed",
):
    """Decorator: register a custom keyword. The decorated function
    takes the keyword's schema value and returns a per-instance
    predicate (compile-once, evaluate-many — same shape as a Keyword
    class holding parsed state in the reference). ``instance_types``
    outside ``JSON_TYPES`` raise ValueError."""
    _check_types(instance_types)

    def deco(fn):
        KEYWORD_REGISTRY[name] = KeywordEntry(fn, instance_types, column_fn, error)
        _bump()
        return fn

    return deco


def unregister_format(name: str) -> None:
    """Remove a registered format (no-op if absent). Safe once the
    schemas using it are compiled: Column forms are baked into the
    plan at compile time."""
    FORMAT_REGISTRY.pop(name, None)
    _bump()


def unregister_keyword(name: str) -> None:
    """Remove a registered custom keyword (no-op if absent)."""
    KEYWORD_REGISTRY.pop(name, None)
    _bump()
