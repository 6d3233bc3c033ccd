"""Format-validator and custom-keyword registries.

A registered format supplies:
  * ``python_fn(value) -> bool``   — used by the batch evaluator/oracle
  * ``column_fn(col) -> Column``   — optional; enables the fast path
    (absence forces CannotLower → batch fallback for schemas using it)

A registered keyword supplies the same pair, receiving the keyword's
schema value: ``python_fn(kw_value) -> (instance) -> bool`` and
``column_fn(kw_value, col, dtype) -> Column``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

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


FORMAT_REGISTRY: dict[str, FormatEntry] = {}
KEYWORD_REGISTRY: dict[str, KeywordEntry] = {}
VERSION = 0  # bumped by every mutator below; part of engine.compiled's key


def _bump() -> None:
    global VERSION
    VERSION += 1


def format_validator(
    name: str,
    instance_types: tuple[str, ...] = ("string",),
    column_fn: Callable[[Column], Column] | None = None,
):
    """Decorator: register a format (analogue of jschon's
    @format_validator, format.py:47-66)."""

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
    class holding parsed state in the reference)."""

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
