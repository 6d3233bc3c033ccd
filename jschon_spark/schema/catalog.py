"""URI-keyed schema registry with $id/$anchor/$dynamicAnchor indexing
and JSON-pointer fragment resolution.

Reference analogue: jschon's ``Catalog`` (URI → schema cache + source
routing, /root/reference/jschon/catalog/__init__.py:70-96,313-368) and
the identity keywords ($id/$anchor registration,
/root/reference/jschon/vocabulary/core.py:65-79,106-118,172-184).
Ours is driver-only and compile-time: by the time a job runs, every
$ref has been resolved to a schema fragment — executors never see URIs.
"""

from __future__ import annotations

import json
import os
import posixpath
import re
from typing import Any, Iterator
from functools import lru_cache
from urllib.parse import urljoin, urlparse, unquote


@lru_cache(maxsize=8192)
def _urljoin_cached(base: str, ref: str) -> str:
    return urljoin(base, ref)

Schema = Any  # dict | bool


class CatalogError(KeyError):
    """Schema/URI resolution failure (reference analogue:
    jschon.catalog.CatalogError). Subclasses KeyError so existing
    callers catching the old convention keep working."""


def subschemas(node: dict) -> Iterator[tuple[str, dict]]:
    """(pointer suffix, child) for every object a schema walk descends
    into: dict values and dict list items of any keyword, except the
    data keywords ``enum``/``const``/``default``/``examples``. Under the
    name->schema maps (``properties``, ``$defs``, ...) member NAMES are
    data, so a property named ``default`` is still a subschema. Names
    are escaped as JSON pointer tokens (``a/b`` is ``a~1b``)."""
    for key, val in node.items():
        if key in ("enum", "const", "default", "examples"):
            continue
        at = "/" + pointer_escape(key)
        if key in (
            "properties", "patternProperties", "dependentSchemas",
            "$defs", "definitions",
        ) and isinstance(val, dict):
            for name, sub in val.items():
                if isinstance(sub, dict):
                    yield f"{at}/{pointer_escape(name)}", sub
        elif isinstance(val, dict):
            yield at, val
        elif isinstance(val, list):
            for i, item in enumerate(val):
                if isinstance(item, dict):
                    yield f"{at}/{i}", item


# base of anonymous registrations: a hierarchical scheme, so
# urljoin-based relative resolution works
_ANON = "https://jschon-spark.invalid/anon/"


_IDX_RE = re.compile(r"^(0|[1-9][0-9]*)$")


def pointer_unescape(token: str) -> str:
    """RFC 6901 token unescape (~1 → /, ~0 → ~; order matters)."""
    return token.replace("~1", "/").replace("~0", "~")


def pointer_escape(token: str) -> str:
    return token.replace("~", "~0").replace("/", "~1")


def pointer_evaluate(doc: Any, pointer: str) -> Any:
    """Evaluate an RFC 6901 JSON pointer against a parsed document."""
    if pointer in ("", "#"):
        return doc
    if pointer.startswith("#"):
        pointer = pointer[1:]
    if not pointer.startswith("/"):
        raise CatalogError(f"invalid JSON pointer: {pointer!r}")
    node = doc
    for raw in pointer.split("/")[1:]:
        token = pointer_unescape(unquote(raw))
        if isinstance(node, dict):
            if token not in node:
                raise CatalogError(f"pointer {pointer!r}: key {token!r} not found")
            node = node[token]
        elif isinstance(node, list):
            # RFC 6901 strict: "0" or ASCII digits with no leading
            # zero — same grammar as jsonpatch._IDX_RE (str.isdigit
            # alone would admit non-ASCII Unicode digits that int()
            # happily parses)
            if not _IDX_RE.match(token):
                raise CatalogError(
                    f"pointer {pointer!r}: invalid array index {token!r}")
            idx = int(token)
            if not idx < len(node):
                raise CatalogError(f"pointer {pointer!r}: index {idx} out of range")
            node = node[idx]
        else:
            raise CatalogError(f"pointer {pointer!r}: cannot descend into leaf")
    return node


def _strip_fragment(uri: str) -> tuple[str, str]:
    if "#" in uri:
        base, frag = uri.split("#", 1)
        return base, frag
    return uri, ""


class Source:
    """Loads a schema by path relative to a routed URI prefix; returns
    None when the resource does not exist (routing then falls through).
    Reference analogue: jschon.catalog.Source
    (/root/reference/jschon/catalog/__init__.py:26-33)."""

    suffix: str = ""

    def __call__(self, relative_path: str) -> Schema | None:
        raise NotImplementedError


class LocalSource(Source):
    """Schemas from a local directory (… + suffix)."""

    def __init__(self, base_dir: str, suffix: str = ".json") -> None:
        self.base_dir = base_dir
        self.suffix = suffix

    def __call__(self, relative_path: str) -> Schema | None:
        path = os.path.join(self.base_dir, relative_path + self.suffix)
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return parse_json_strict(f.read())


class RemoteSource(Source):
    """Schemas fetched over HTTP(S) with stdlib urllib — driver-side
    only and at compile time; executors never fetch URIs.
    Reference analogue: jschon.catalog.RemoteSource + json_loadr
    (/root/reference/jschon/catalog/__init__.py:57-67, utils.py:52-58)."""

    def __init__(self, base_url: str, suffix: str = "", timeout: float = 10.0) -> None:
        if not base_url.endswith("/"):
            base_url += "/"
        self.base_url = base_url
        self.suffix = suffix
        self.timeout = timeout

    def __call__(self, relative_path: str) -> Schema | None:
        import urllib.error
        import urllib.request

        url = urljoin(self.base_url, relative_path) + self.suffix
        try:
            with urllib.request.urlopen(url, timeout=self.timeout) as resp:
                return parse_json_strict(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise


class SchemaCatalog:
    """Registry of schema resources keyed by absolute URI.

    * ``register(schema, uri)`` indexes the document plus every embedded
      ``$id`` resource, ``$anchor`` and ``$dynamicAnchor``.
    * ``resolve(ref, base_uri)`` returns the target schema fragment and
      the base URI in effect at that fragment.
    * ``sources`` route unknown URI prefixes to local directories
      (longest-prefix match), mirroring jschon's LocalSource routing
      (/root/reference/jschon/catalog/__init__.py:131-164).
    """

    def __init__(self) -> None:
        # uri (no fragment) -> (schema fragment, resource root)
        self._resources: dict[str, Schema] = {}
        # absolute anchor uri "base#name" -> schema fragment
        self._anchors: dict[str, Schema] = {}
        # dynamic anchors: base uri -> {name -> fragment}
        self._dynamic_anchors: dict[str, dict[str, Schema]] = {}
        # 2019-09 $recursiveAnchor: true at a resource root
        self._recursive_anchors: set[str] = set()
        # uri prefix -> Source callable (longest-prefix routing)
        self._sources: list[tuple[str, "Source"]] = []
        # live scope() ids (duplicate detection)
        self._active_scopes: set = set()

    # -- source routing -------------------------------------------------
    def add_source(self, uri_prefix: str, source: "Source") -> None:
        """Route URIs under ``uri_prefix`` to ``source`` — longest prefix
        wins, mirroring jschon's Catalog.add_uri_source
        (/root/reference/jschon/catalog/__init__.py:131-164)."""
        self._sources.append((uri_prefix, source))
        self._sources.sort(key=lambda kv: -len(kv[0]))

    def add_local_source(self, uri_prefix: str, directory: str, suffix: str = ".json") -> None:
        self.add_source(uri_prefix, LocalSource(directory, suffix=suffix))

    def add_remote_source(self, uri_prefix: str, base_url: str, suffix: str = "") -> None:
        self.add_source(uri_prefix, RemoteSource(base_url, suffix=suffix))

    def _load_from_source(self, uri: str) -> Schema | None:
        for prefix, source in self._sources:
            if uri.startswith(prefix):
                schema = source(uri[len(prefix):])
                if schema is not None:
                    self.register(schema, uri)
                    return schema
        return None

    # -- scoped registration ----------------------------------------------
    def scope(self, scope_id=None):
        """Context manager for a temporary registration scope: schemas
        registered inside the ``with`` block are popped from the catalog
        on exit (pre-existing resources are untouched). Reference
        analogue: Catalog.cache(cacheid)
        (/root/reference/jschon/catalog/__init__.py:370-391) — used to
        evaluate ad-hoc/session schemas without polluting the shared
        registry. Nested scopes unwind LIFO."""
        import uuid
        from contextlib import contextmanager

        @contextmanager
        def _scope():
            sid = scope_id if scope_id is not None else uuid.uuid4()
            if sid in self._active_scopes:
                raise CatalogError(f"scope id {sid!r} is already in use")
            self._active_scopes.add(sid)
            snap_res = set(self._resources)
            snap_anc = set(self._anchors)
            snap_dyn = {k: set(v) for k, v in self._dynamic_anchors.items()}
            snap_rec = set(self._recursive_anchors)
            snap_src = list(self._sources)
            try:
                yield sid
            finally:
                self._active_scopes.discard(sid)
                self._resources = {
                    k: v for k, v in self._resources.items() if k in snap_res
                }
                self._anchors = {
                    k: v for k, v in self._anchors.items() if k in snap_anc
                }
                self._dynamic_anchors = {
                    k: {n: s for n, s in v.items() if n in snap_dyn.get(k, ())}
                    for k, v in self._dynamic_anchors.items()
                    if k in snap_dyn
                }
                self._recursive_anchors &= snap_rec
                self._sources = snap_src

        return _scope()

    # -- registration ---------------------------------------------------
    def register(self, schema: Schema, uri: str | None = None) -> str:
        """Index a schema document. Returns its canonical (base) URI."""
        if isinstance(schema, dict) and isinstance(schema.get("$id"), str):
            sid, frag = _strip_fragment(schema["$id"])
            uri = urljoin(uri or "", sid) if uri else sid
        if uri is None:
            # an anonymous root registered before keeps its URI, so
            # validating one schema object again adds no resource
            for known, root in self._resources.items():
                if root is schema and known.startswith(_ANON):
                    return known
            uri = f"{_ANON}{len(self._resources)}"
        base, _ = _strip_fragment(uri)
        self._walk_register(schema, base)
        return base

    def _walk_register(self, node: Schema, base: str) -> None:
        if isinstance(node, bool):
            self._resources.setdefault(base, node)
            return
        if not isinstance(node, dict):
            return
        if isinstance(node.get("$id"), str):
            new_base, _ = _strip_fragment(urljoin(base, node["$id"]))
            base = new_base
        self._resources.setdefault(base, node)
        if isinstance(node.get("$anchor"), str):
            self._anchors[f"{base}#{node['$anchor']}"] = node
        if isinstance(node.get("$dynamicAnchor"), str):
            name = node["$dynamicAnchor"]
            self._dynamic_anchors.setdefault(base, {})[name] = node
            # a $dynamicAnchor also behaves as a plain anchor for direct refs
            self._anchors.setdefault(f"{base}#{name}", node)
        if node.get("$recursiveAnchor") is True and self._resources.get(base) is node:
            self._recursive_anchors.add(base)
        for _, sub in subschemas(node):
            self._walk_register(sub, base)

    # -- resolution -------------------------------------------------------
    def resolve(self, ref: str, base_uri: str) -> tuple[Schema, str]:
        """Resolve ``ref`` against ``base_uri``; return (schema, new_base)."""
        if ref.startswith("#"):
            # fragment-only ref: same resource, independent of scheme
            target = base_uri.split("#", 1)[0] + ref
        else:
            # memoized: $ref-heavy evaluation resolves the same (base,
            # ref) pairs once per schema node VISIT — urljoin is pure
            # string work and profiling showed it dominating ref walks
            target = _urljoin_cached(base_uri, ref) if base_uri else ref
        base, frag = _strip_fragment(target)
        root = self._resources.get(base)
        if root is None:
            root = self._load_from_source(base)
        if root is None:
            raise CatalogError(f"unresolvable schema URI: {target!r} (base {base_uri!r})")
        if not frag:
            return root, base
        if frag.startswith("/"):
            node = pointer_evaluate(root, "#" + frag)
            # the pointed-at fragment may cross an embedded $id boundary
            new_base = base
            if isinstance(node, dict) and isinstance(node.get("$id"), str):
                new_base, _ = _strip_fragment(urljoin(base, node["$id"]))
            return node, new_base
        # plain-name / dynamic anchor
        anchored = self._anchors.get(f"{base}#{frag}")
        if anchored is None:
            raise CatalogError(f"unresolvable anchor: {target!r}")
        return anchored, base

    def dynamic_anchor(self, base_uri: str, name: str) -> Schema | None:
        return self._dynamic_anchors.get(base_uri, {}).get(name)

    def has_dynamic_anchor(self, base_uri: str, name: str) -> bool:
        return name in self._dynamic_anchors.get(base_uri, {})

    def has_recursive_anchor(self, base_uri: str) -> bool:
        return base_uri in self._recursive_anchors

    # -- static dynamic-ref analysis (compile-time, round 5) -------------
    def preload_ref_closure(self, schema: Schema, base_uri: str) -> None:
        """Force-resolve every ``$ref``/``$dynamicRef``/``$recursiveRef``
        reachable from ``schema`` so lazily-sourced resources register
        their anchors BEFORE any catalog-wide anchor-uniqueness decision
        (`static_dynamic_target`). Unresolvable refs are skipped — the
        evaluator only fails on them if the branch is actually entered
        at runtime, and a ref this walk can't resolve can't load new
        resources at runtime either. Pure dict work; cycles guarded."""
        seen: set[int] = set()

        def walk(node: Schema, base: str) -> None:
            if not isinstance(node, dict) or id(node) in seen:
                return
            seen.add(id(node))
            if isinstance(node.get("$id"), str):
                base, _ = _strip_fragment(
                    _urljoin_cached(base, node["$id"]) if base else node["$id"]
                )
            for kw in ("$ref", "$dynamicRef", "$recursiveRef"):
                r = node.get(kw)
                if isinstance(r, str):
                    try:
                        t, tb = self.resolve(r, base)
                    except CatalogError:
                        continue
                    walk(t, tb)
            for _, sub in subschemas(node):
                walk(sub, base)

        walk(schema, base_uri)

    def static_dynamic_target(
        self, ref: str, base_uri: str
    ) -> tuple[Schema, str] | None:
        """Resolve a ``$dynamicRef`` statically, or ``None`` when the
        runtime rebinding is genuinely dynamic.

        Mirrors the evaluator's bookending rule (evaluator.py ``$dynamicRef``
        branch): rebinding applies only when the initially-resolved target
        is itself ``$dynamicAnchor``-named by the ref's fragment. When it
        applies, the outcome is static iff EXACTLY ONE registered resource
        defines a dynamic anchor of that name — then any dynamic scope's
        outermost match IS the initial target. Callers must
        ``preload_ref_closure`` first so the uniqueness count sees every
        resource runtime evaluation could enter."""
        target, tbase = self.resolve(ref, base_uri)
        frag = ref.split("#", 1)[1] if "#" in ref else ""
        if (
            frag
            and not frag.startswith("/")
            and isinstance(target, dict)
            and target.get("$dynamicAnchor") == frag
        ):
            owners = [
                b for b, d in self._dynamic_anchors.items() if frag in d
            ]
            if owners != [tbase] or self._dynamic_anchors[tbase][frag] is not target:
                return None
        return target, tbase

    def static_recursive_target(
        self, ref: str, base_uri: str
    ) -> tuple[Schema, str] | None:
        """2019-09 twin of ``static_dynamic_target``: a ``$recursiveRef``
        is static iff its target lacks ``$recursiveAnchor: true`` (plain
        $ref semantics) or the target's resource is the ONLY one with a
        recursive anchor (rebinding provably lands back on it)."""
        target, tbase = self.resolve(ref, base_uri)
        if isinstance(target, dict) and target.get("$recursiveAnchor") is True:
            owners = sorted(self._recursive_anchors)
            if not owners:
                return target, tbase  # no resource can capture the rebind
            # the runtime rebind resolves "#" -> the RESOURCE ROOT, so
            # the target must BE tbase's root for the outcome to be
            # provably the initial resolution
            if owners != [tbase] or self._resources.get(tbase) is not target:
                return None
        return target, tbase


def parse_json_strict(text: str) -> Any:
    """Parse JSON rejecting NaN/Infinity, as the reference does
    (/root/reference/jschon/utils.py:66-70)."""

    def _reject(_: str) -> float:
        raise ValueError("NaN/Infinity not permitted in JSON instances")

    return json.loads(text, parse_constant=_reject)
