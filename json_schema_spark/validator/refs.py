"""Driver-side $ref / $id / definitions resolution (pre-compile pass).

The analog of the reference's Ref pre-pass (/root/reference/src/Ref.php):
- `$id` interning (Ref.php:114-145 registerIdentifications): every object
  node carrying a string `$id` is registered under that value and the
  `$id` key removed; a `$ref` whose value EXACTLY matches a registered
  `$id` resolves to that node (checked before URL/pointer dispatch, same
  order as Ref.php:162-171). BEYOND the reference: anchors are also
  registered under their RFC 3986 absolutized form (resolved against the
  base URI in scope, which a string `$id` changes for its subtree), and
  a `$ref` that misses the exact match is retried absolutized — this is
  what makes the official suite's "Recursive references between
  schemas" and "base URI change in subschema" groups work, which the
  reference's exact-string matching cannot (its CI ignores ref.json
  wholesale, run.php:283-286).
- remote refs (Ref.php:295-333 downloadJsonResource): http(s):// and
  file:// refs are fetched ON THE DRIVER with a small timeout and a
  per-resolution URL cache, mirroring CURL_TIMEOUT/urlCache. Executors
  never fetch anything — the data-plane no-I/O invariant holds because
  resolution happens before compilation. Fetching is OPT-IN
  (``fetch_remote=True``): compiling an untrusted schema must not be
  able to read driver-local files (file://) or probe internal endpoints
  (SSRF) by default — a wider surface than the reference's
  'http://'-only dispatch would be. A PRE-SEEDED ``url_cache`` is
  consulted either way (a cache hit is not a fetch), so well-known
  documents like the draft meta-schemas can resolve with no I/O at all.
  JSON-pointer refs INSIDE a remote document resolve against that
  document's own root, not the referencing schema's.
- local JSON-pointer references (#/definitions/..., #/properties/x, ...)
  are replaced by the referenced node itself — shared object identity,
  so ref-to-ref chains and cycles become shared/self-referential Python
  structures. The schema compiler's memoization + path-depth guard
  (document._MAX_PATH_DEPTH, mirroring Schema.php:186-190) makes cyclic
  compiled schemas finite.
"""

from __future__ import annotations

import copy
import json
from typing import Any
from urllib.parse import urljoin

from json_schema_spark.errors import SchemaError

REMOTE_TIMEOUT_SECONDS = 1.0  # Ref.php:11 CURL_TIMEOUT = 1000 ms
_REMOTE_SCHEMES = ("http://", "https://", "file://")


def _unescape(segment: str) -> str:
    # JSON-pointer escapes incl. the two %-escapes the reference handles
    # (Ref.php:260)
    return (segment.replace("~1", "/").replace("~0", "~")
            .replace("%25", "%").replace("%22", '"'))


def _lookup(root: Any, pointer: str) -> Any:
    """Resolve '#/a/b/0' against the root; raises KeyError/IndexError on a
    dangling pointer."""
    if pointer in ("#", "#/", ""):
        return root
    node = root
    for seg in pointer.lstrip("#").strip("/").split("/"):
        seg = _unescape(seg)
        if isinstance(node, list):
            node = node[int(seg)]
        elif isinstance(node, dict):
            node = node[seg]
        else:
            raise KeyError(seg)
    return node


def _intern_document(root: Any, ids: dict[str, Any],
                     doc_anchors: dict[tuple[int, str], Any],
                     base_map: dict[int, str],
                     root_map: dict[int, Any],
                     base: str, id_keys: tuple[str, ...]) -> None:
    """Walk ONE schema document: register every id anchor under its
    ABSOLUTIZED form in the shared ``ids`` map and under its RAW string
    in the per-document ``doc_anchors`` map (keyed by the owning
    document root's identity). For a document with no enclosing base
    URI the absolutized form equals the raw string, preserving the
    reference's global raw-string matching (Ref.php:122-131 incl. the
    key unset) for the primary schema; for remote documents the raw
    form stays namespaced — two documents both carrying '$id': '#foo'
    no longer collide in the shared map (last-interned-wins would
    silently re-point a $ref across documents and flip verdicts).
    Records the base URI in effect and the owning document root for
    every container node. Cycle-safe."""
    seen: set[int] = set()

    def walk(node: Any, base: str) -> None:
        if id(node) in seen:
            return
        if isinstance(node, dict):
            seen.add(id(node))
            anchor = None
            for k in id_keys:
                v = node.get(k)
                if isinstance(v, str):
                    anchor = v
                    del node[k]
                    break
            if anchor is not None:
                doc_anchors[(id(root), anchor)] = node
                absolute = urljoin(base, anchor) if base else anchor
                ids[absolute] = node
                base = absolute
            base_map[id(node)] = base
            root_map[id(node)] = root
            for v in node.values():
                walk(v, base)
        elif isinstance(node, list):
            seen.add(id(node))
            base_map[id(node)] = base
            root_map[id(node)] = root
            for v in node:
                walk(v, base)

    walk(root, base)


def fetch_remote_schema(url: str, cache: dict[str, Any] | None = None,
                        timeout: float = REMOTE_TIMEOUT_SECONDS) -> Any:
    """Driver-side remote schema fetch with URL cache
    (Ref.php:295-333): one request per distinct URL per resolution,
    SchemaError on transport or JSON errors (RefException analog)."""
    if cache is not None and url in cache:
        return cache[url]
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            data = resp.read()
    except Exception as exc:  # transport error → RefException parity
        raise SchemaError(
            f'external reference download problem: "{exc}" ({url})'
        ) from exc
    try:
        doc = json.loads(data)
    except ValueError as exc:
        raise SchemaError(f'invalid json response for url "{url}"') from exc
    if cache is not None:
        cache[url] = doc
    return doc


def resolve_refs(root: Any, fetch_remote: bool = False,
                 url_cache: dict[str, Any] | None = None,
                 copy_input: bool = True,
                 id_keys: tuple[str, ...] = ("$id",)) -> Any:
    """Resolve every `$ref`, dispatching in the reference's order: id
    anchor match (exact, then base-absolutized), then remote URL, then
    local JSON pointer. Resolved nodes share object identity, so
    ref-to-ref chains and cycles become shared/self-referential
    structures. Unresolvable refs are left untouched (they compile as
    inert keywords).

    ``fetch_remote`` is opt-in: by default http(s):// and file:// refs
    resolve only when the (pre-seeded) ``url_cache`` already holds the
    document — an untrusted schema cannot read driver-local files or
    reach internal endpoints. ``copy_input`` (default) works on a deep
    copy — resolution strips id keys and rewires nodes, and callers
    should not see their schema dict mutated. ``id_keys`` selects the
    anchor keyword: draft 6/7 use `$id`; pass ``("$id", "id")`` for
    draft-4 schemas."""
    if copy_input:
        root = copy.deepcopy(root)
    ids: dict[str, Any] = {}
    doc_anchors: dict[tuple[int, str], Any] = {}
    base_map: dict[int, str] = {}
    root_map: dict[int, Any] = {}
    _intern_document(root, ids, doc_anchors, base_map, root_map, "",
                     id_keys)
    if url_cache is None:
        url_cache = {}
    docs: dict[str, Any] = {}  # per-resolution remote doc copies
    resolving: set[int] = set()

    def get_remote(url: str) -> Any | None:
        """Document for a remote URL (fragment stripped) from the
        per-resolution copy set, the seeded cache, or — only with
        fetch_remote — the network. None = unavailable (ref stays
        inert)."""
        base_url, _, _frag = url.partition("#")
        if base_url in docs:
            return docs[base_url]
        raw = None
        for key in (base_url, base_url + "#", url):
            if key in url_cache:
                raw = url_cache[key]
                break
        if raw is None:
            if not fetch_remote:
                return None
            raw = fetch_remote_schema(base_url, url_cache)
        # deep-copy: interning strips id keys and resolution rewires
        # nodes — the (possibly caller-seeded) cache must stay pristine
        doc = copy.deepcopy(raw)
        docs[base_url] = doc
        _intern_document(doc, ids, doc_anchors, base_map, root_map,
                         base_url, id_keys)
        return doc

    def locate(node: dict, ref: str,
               doc_root: Any) -> tuple[Any, Any] | None:
        """(target, target_doc_root) or None when unresolvable."""
        base = base_map.get(id(node), "")
        for candidate in (ref, urljoin(base, ref) if base else ref):
            # raw-anchor match is namespaced to the REFERENCING node's
            # own document (two documents may carry the same raw
            # anchor); absolutized anchors live in the shared map
            anchored = doc_anchors.get((id(doc_root), candidate))
            if anchored is not None:
                return anchored, root_map.get(id(anchored), doc_root)
            if candidate in ids:
                t = ids[candidate]
                return t, root_map.get(id(t), doc_root)
            if candidate.startswith(_REMOTE_SCHEMES):
                doc = get_remote(candidate)
                if doc is None:
                    continue
                _, _, frag = candidate.partition("#")
                if not frag:
                    return doc, doc
                if frag.startswith("/"):
                    try:
                        t = _lookup(doc, "#" + frag)
                    except (KeyError, IndexError, ValueError):
                        continue
                    return t, doc
                # anchor fragment inside the remote document — only
                # anchors interned from THAT document may match (the
                # shared-map fallback used to let an unrelated
                # document's '#frag' anchor win)
                anchored = (ids.get(candidate)
                            or doc_anchors.get((id(doc), "#" + frag))
                            or doc_anchors.get((id(doc), frag)))
                if anchored is not None:
                    return anchored, root_map.get(id(anchored), doc)
                continue
        if ref.startswith("#"):
            try:
                t = _lookup(doc_root, ref)
            except (KeyError, IndexError, ValueError):
                return None
            return t, root_map.get(id(t), doc_root)
        return None

    def walk(node: Any, doc_root: Any) -> Any:
        if isinstance(node, dict):
            ref = node.get("$ref")
            if isinstance(ref, str) and id(node) not in resolving:
                found = locate(node, ref, doc_root)
                if found is not None:
                    target, target_root = found
                    resolving.add(id(node))
                    try:
                        return walk(target, target_root)
                    finally:
                        resolving.discard(id(node))
                return node
            if id(node) in resolving:
                return node
            resolving.add(id(node))
            try:
                for k in list(node.keys()):
                    node[k] = walk(node[k], doc_root)
            finally:
                resolving.discard(id(node))
            return node
        if isinstance(node, list):
            if id(node) in resolving:
                return node
            resolving.add(id(node))
            try:
                for i in range(len(node)):
                    node[i] = walk(node[i], doc_root)
            finally:
                resolving.discard(id(node))
            return node
        return node

    return walk(root, root)
