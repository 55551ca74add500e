"""Table-metadata document packing: stored blob O(snapshots + manifests).

With out-of-line manifests (round 16), each snapshot carries a
descriptor list — and manifest REUSE means consecutive snapshots repeat
mostly-identical descriptors, so a naively serialized document grows
O(snapshots x live manifests) (~2.5 MB at 120 retained snapshots in
tools/metadata_scale_probe.py). This module normalizes that at the
SERIALIZATION boundary only: identical descriptors are stored once in a
top-level content-keyed pool (vendor key ``manifest-descriptor-pool``)
and snapshots reference them by index (vendor key
``manifests-pooled``), making the stored/archived blob
O(snapshots + distinct manifests) while the IN-MEMORY shape every
engine component sees stays exactly the denormalized one
(``snapshot["manifests"]`` = descriptor dicts). Spec-required fields
(``manifest-list`` et al.) are untouched, and both vendor keys are
exactly the kind of unknown field the Iceberg spec directs parsers to
ignore — a packed metadata.json file remains a valid spec document.

This is the same normalization intent as the reference's split table
metadata layout (migrations/20241106201139_split_table_metadata.sql:
snapshots, schemas, and manifest state live in normalized relations,
not one growing JSON blob).

``unpack_metadata`` accepts plain (pre-pooling / foreign) documents
unchanged, so registered external metadata files and pre-round-16 rows
keep loading.

Encode once: the catalog encodes a metadata version once, with
``pack_metadata``, when the write that creates it stores it in
``tabulars.metadata``. Every consumer that can take the pooled form
then gets that stored text verbatim, never a re-encode of its parsed
form: a ``?pooled-manifests=true`` loadTable reply
(``Catalog.load_table_text``), the archived previous version a commit
writes to ``metadata/``, and a ``?pooled-manifests=true`` commit reply
(``commit_transaction(packed=...)``). A 304 revalidation reads only
``metadata_seq``. Only consumers that need the parsed document — the
commit engine, ``snapshots=refs``, plain spec-document replies — call
``unpack_metadata``.

Pool keying: two descriptors share a pool entry exactly when their
canonical JSON (sorted keys, compact separators) is equal, and the pool
keeps the first descriptor of each distinct key in snapshot order. Keys
are computed only when needed. Descriptors are bucketed by ``path``: a
descriptor joins a same-path entry without any encoding when both have
the same keys and every value is the SAME object. That is what
``unpack_document``'s per-snapshot ``dict(pool[i])`` copies and the
commit engine's structural sharing carry forward. Any other descriptor
is encoded and looked up among the keys of its bucket's entries, which
are encoded lazily; one without a string ``path`` is matched by key
alone. Identity implies equal JSON, so the pooled text is exactly what
keying every descriptor by its JSON would give; plain ``==`` would not
be safe, as it equates ``1``, ``1.0`` and ``True``. A commit's pack
therefore encodes only the descriptors its new snapshot brought in,
not the table's history.
"""

from __future__ import annotations

import json
import operator
from itertools import repeat
from typing import Any

POOL_KEY = "manifest-descriptor-pool"
REFS_KEY = "manifests-pooled"


_CANONICAL = json.JSONEncoder(sort_keys=True, separators=(",", ":"))
# never a document value, so ``d.get(k, _MISSING) is p[k]`` implies k in d
_MISSING = object()


def _canonical_key(desc: Any) -> str:
    """The pool key of a descriptor: its canonical JSON."""
    return _CANONICAL.encode(desc)


def pool_document(meta: dict[str, Any]) -> dict[str, Any]:
    """The pooled FORM of a metadata document (same object when there
    is nothing to pool). Pure: the input is never mutated (callers keep
    using it) — snapshots are rebuilt, descriptors shared by reference
    into the pool. Keying follows the module docstring's rule."""
    snaps = meta.get("snapshots")
    if not snaps or not any("manifests" in s for s in snaps):
        return meta
    pool: list[dict[str, Any]] = []
    keys: list[str | None] = []  # canonical key per entry, once computed
    index: dict[str, int] = {}  # computed canonical key -> entry
    # pool indices by path; None holds what has no string path (or is no
    # plain dict) and is matched by canonical key only
    by_path: dict[str | None, list[int]] = {}
    out_snaps: list[dict[str, Any]] = []
    for s in snaps:
        descs = s.get("manifests")
        if descs is None:
            out_snaps.append(s)
            continue
        refs: list[int] = []
        for d in descs:
            path = d.get("path") if type(d) is dict else None
            if type(path) is not str:
                path = None
            bucket = by_path.setdefault(path, [])
            i = None
            if path is not None:
                # inline (this loop runs once per descriptor of every
                # snapshot): same keys, each bound to the same object
                for j in bucket:
                    p = pool[j]
                    if p is d or (
                        len(p) == len(d)
                        and all(
                            map(operator.is_, p.values(), map(d.get, p, repeat(_MISSING)))
                        )
                    ):
                        i = j
                        break
            key = None
            if i is None and bucket:
                # entries join a non-empty bucket keyed, so only its
                # first entry can still lack a key
                first = bucket[0]
                if keys[first] is None:
                    keys[first] = _canonical_key(pool[first])
                    index[keys[first]] = first
                key = _canonical_key(d)
                i = index.get(key)
            if i is None:
                i = len(pool)
                pool.append(d)
                keys.append(key)
                bucket.append(i)
                if key is not None:
                    index[key] = i
            refs.append(i)
        s2 = {k: v for k, v in s.items() if k != "manifests"}
        s2[REFS_KEY] = refs
        out_snaps.append(s2)
    return {**meta, "snapshots": out_snaps, POOL_KEY: pool}


def pack_metadata(meta: dict[str, Any]) -> str:
    """Serialize table metadata with descriptors pooled."""
    return json.dumps(pool_document(meta))


def unpack_metadata(text: str) -> dict[str, Any]:
    """Parse a stored metadata document, rehydrating pooled descriptors
    into per-snapshot COPIES (snapshots must not share mutable dicts —
    an edit to one snapshot's descriptor must not reach another's; the
    copies share their values, which is what lets ``pool_document``
    match them by identity). Plain documents pass through untouched."""
    return unpack_document(json.loads(text))


def unpack_document(doc: Any) -> dict[str, Any]:
    """Rehydrate a (possibly pooled) metadata document IN PLACE and
    return it. Structural corruption raises ValueError — the class
    register/load callers already turn into clean 4xx errors."""
    if not isinstance(doc, dict):
        raise ValueError("metadata document must be a JSON object")
    pool = doc.pop(POOL_KEY, None)
    if pool is None:
        return doc
    try:
        for s in doc.get("snapshots", []):
            refs = s.pop(REFS_KEY, None)
            if refs is not None:
                s["manifests"] = [dict(pool[i]) for i in refs]
    except (IndexError, TypeError, KeyError, AttributeError) as e:
        raise ValueError(f"invalid pooled metadata document: {e}") from e
    return doc
