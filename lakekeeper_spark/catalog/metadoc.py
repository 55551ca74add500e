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
"""

from __future__ import annotations

import json
from typing import Any

POOL_KEY = "manifest-descriptor-pool"
REFS_KEY = "manifests-pooled"


def pool_document(meta: dict[str, Any]) -> dict[str, Any]:
    """The pooled FORM of a metadata document (same object when there
    is nothing to pool). Pure: the input is never mutated (callers keep
    using it) — snapshots are rebuilt, descriptors shared by reference
    into the pool."""
    snaps = meta.get("snapshots")
    if not snaps or not any("manifests" in s for s in snaps):
        return meta
    pool: list[dict[str, Any]] = []
    index: dict[str, int] = {}
    out_snaps: list[dict[str, Any]] = []
    for s in snaps:
        descs = s.get("manifests")
        if descs is None:
            out_snaps.append(s)
            continue
        refs: list[int] = []
        for d in descs:
            key = json.dumps(d, sort_keys=True, separators=(",", ":"))
            i = index.get(key)
            if i is None:
                i = len(pool)
                pool.append(d)
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
    the commit engine assigns per-snapshot first-row-id state). Plain
    documents pass through untouched."""
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
